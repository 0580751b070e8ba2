package graft.operators

import graft.{QueryPack, Stage, Tables}
import org.apache.spark.sql.functions._

/** Oracle-checked round-trips through the non-parquet file formats
  * (SURVEY.md §2.2 A: CSV/JSON sources + sinks). The spec suite covers
  * these paths with staged fixtures; the queries here put them under the
  * driver's DuckDB gate too, same staging pattern as `dir_wordcount`:
  * the query WRITES the format from the documents table, reads it back
  * through the FileSources facade, and aggregates; the oracle reads the
  * very same staged files with DuckDB's read_csv/read_json. So the bytes
  * on disk — written by Spark's sink, parsed by two independent readers —
  * are what's checked, not just the in-memory frame.
  *
  * Stage paths are a pure function of the data dir ([[Stage]]) so the
  * oracle SQL can name them (the driver runs all Spark queries before any
  * oracle) while concurrent sessions over different data dirs can never
  * clobber each other's staged files. Staging cost is one column-pruned
  * pass over documents; the read-back is the real DataSource scan path
  * (schema inference + per-file tasks), which is the point.
  */
object SourceQueries extends QueryPack {

  private def csvStage(d: String) = Stage.dir(d, "csv")
  private def csvMlStage(d: String) = Stage.dir(d, "csvml")
  private def jsonlStage(d: String) = Stage.dir(d, "jsonl")
  private def csvGzStage(d: String) = Stage.dir(d, "csv_gz")
  private def jsonlGzStage(d: String) = Stage.dir(d, "jsonl_gz")
  private def jsonlBadStage(d: String) = Stage.dir(d, "jsonl_bad")
  private def jsonlZstStage(d: String) = Stage.dir(d, "jsonl_zst")
  private def pqZstdStage(d: String) = Stage.dir(d, "parquet_zstd")
  private def orcStage(d: String) = Stage.dir(d, "orc")
  private def orcHiveStage(d: String) = Stage.dir(d, "orc_hive")
  private def pqHiveStage(d: String) = Stage.dir(d, "parquet_hive")
  private def pqEvoStage(d: String) = Stage.dir(d, "parquet_evo")
  private def warcStage(d: String) = Stage.dir(d, "warc")
  private def tarStage(d: String) = Stage.dir(d, "tar")
  private def zipStage(d: String) = Stage.dir(d, "zip")
  private def pqAuditStage(d: String) = Stage.dir(d, "pq_audit")
  private def avroStage(d: String) = Stage.dir(d, "avro")
  private def avroEvoStage(d: String) = Stage.dir(d, "avro_evo")
  private def avroLiveStage(d: String) = Stage.dir(d, "avro_live")
  private def jsonlBz2Stage(d: String) = Stage.dir(d, "jsonl_bz2")
  private def ipynbStage(d: String) = Stage.dir(d, "ipynb")
  private def docxStage(d: String) = Stage.dir(d, "docx")
  private def xlsxStage(d: String) = Stage.dir(d, "xlsx")
  private def pptxStage(d: String) = Stage.dir(d, "pptx")
  private def epubStage(d: String) = Stage.dir(d, "epub")
  private def odtStage(d: String) = Stage.dir(d, "odt")
  private def rtfStage(d: String) = Stage.dir(d, "rtf")
  private def odsStage(d: String) = Stage.dir(d, "ods")
  private def mixedStage(d: String) = Stage.dir(d, "mixed")

  /** Stage the MIXED document directory: kept ids (≡ 0 mod 101) route
    * by id%4 to .docx / .pptx / .epub / .odt (the three OPC prose
    * containers plus the ODF one, reusing their byte builders), PLUS
    * two poison plants the front door must drop — a corrupt .docx
    * (garbage bytes under a plausible name) and an unknown extension. */
  private def stageMixed(s: org.apache.spark.sql.SparkSession, dataDir: String): String = {
    val dir = mixedStage(dataDir)
    Stage.once(dir, "_STAGED_MIXED_V2") {
      // A V1 (pre-odt, id%3-routed) staging is WIPED first — its leftover
      // files carry the wrong extension for their ids under the new routing.
      new java.io.File(dir).listFiles().foreach(f => if (f.isFile) f.delete())
      Stage.keptDocIds(s, dataDir).foreach { id =>
        val (ext, bytes) = (id % 4) match {
          case 0 => ("docx", graft.sources.DocxSource.docxBytes(id))
          case 1 => ("pptx", graft.sources.PptxSource.pptxBytes(id))
          case 2 => ("epub", graft.sources.EpubSource.epubBytes(id))
          case _ => ("odt", graft.sources.OdtSource.odtBytes(id))
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/doc$id.$ext"), bytes)
      }
      // Poison plants: ids no oracle counts — a parser that "succeeds"
      // on either ADDS a row and breaks the format counts.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/doc777777777.docx"),
        Array[Byte](0x50, 0x4b, 3, 4, 9, 9, 9))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/doc888888888.xyz"),
        "not a container".getBytes("UTF-8"))
    }
    dir
  }

  /** The mixed-corpus FRONT DOOR: one directory, extension dispatch to
    * the per-format extractor, unified (doc_id, format, text) rows.
    * Epub rows come back as raw XHTML and take the codegen'd
    * htmlToText strip; unknown extensions and refused parses drop
    * (parse-as-filter — the quarantine path of a real ingest tier). */
  private[graft] def mixedExtractRows(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val raw = graft.sources.FileSources.docFiles(s, dir, "doc", "") { (id, name, bytes) =>
      name.substring(name.lastIndexOf('.') + 1) match {
        case "docx" =>
          graft.sources.DocxSource.extractDocx(name, bytes)
            .map { case (t, _) => (id, "docx", t) }
        case "pptx" =>
          graft.sources.PptxSource.extractPptx(name, bytes)
            .map { case (t, _, _) => (id, "pptx", t) }
        case "epub" =>
          graft.sources.EpubSource.extractEpub(name, bytes)
            .map(chs => (id, "epub", chs.map(_._3).mkString("\n")))
        case "odt" =>
          graft.sources.OdtSource.extractOdt(name, bytes)
            .map { case (t, _) => (id, "odt", t) }
        case _ => None // unknown format: quarantine, never guessed
      }
    }.toDF("doc_id", "format", "raw")
    val epub = TextAnalysis.htmlToText(
      raw.filter(col("format") === "epub"), "raw", "text")
    raw.filter(col("format") =!= "epub")
      .withColumnRenamed("raw", "text")
      .unionByName(epub.select("doc_id", "format", "text"))
  }

  /** The shared documents-projection audit (the closed-form-roundtrip
    * discipline): per-lang counts, char sums, distinct sources, and a
    * row-level checksum over every round-tripped column — ONE definition
    * for the orc/bz2/Avro gates whose bytes DuckDB cannot read, so a
    * checksum-format change cannot desynchronize them. */
  private def docsAuditOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("chars"),
        countDistinct(col("source")).as("n_sources"),
        sum(graft.functions.PortableHash.h60p(
          concat(col("doc_id").cast("string"), lit("|"), col("source"),
            lit("|"), col("n_chars").cast("string")))).as("checksum"))
      .orderBy("lang")

  /** docsAuditOf's oracle twin, recomputed from the source table. */
  private val docsAuditSql =
    s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS chars,
              CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(SUM(${graft.functions.PortableHash.h60pSql(
                "CAST(doc_id AS VARCHAR) || '|' || source || '|' || CAST(n_chars AS VARCHAR)")}) AS BIGINT) AS checksum
       FROM documents GROUP BY lang ORDER BY lang"""

  val queries: Map[String, Q] = Map(
    // CSV sink → CSV source (header + schema inference) → aggregate.
    "csv_roundtrip" -> ((s, d) => {
      val stage = csvStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1) // single part file: deterministic layout for the oracle glob
        .write.mode("overwrite").option("header", "true").csv(stage)
      graft.sources.FileSources.csv(s, stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // RFC 4180 multiline CSV: every payload embeds a NEWLINE, a comma,
    // a quoted-quote ("" doubling) and a leading space inside the
    // quotes — the four things that corrupt a naive line-split reader.
    // The sink quotes/escapes them; the gate reads the bytes back
    // through FileSources.csvMultiline (whole-file parse — see its
    // scaladoc for the splittability trade) and the ORACLE parses the
    // SAME staged file with DuckDB's independent CSV reader: two
    // unrelated RFC 4180 implementations must agree row-for-row on a
    // per-payload md5 checksum. A reader that splits records on raw
    // newlines doubles the row count and shifts every hash.
    "csv_multiline_roundtrip" -> ((s, d) => {
      val stage = csvMlStage(d)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          concat(lit(" v\""), (col("doc_id") % 7).cast("string"), lit("\" x\n"),
            lit("l2,c "), col("doc_id").cast("string")).as("payload"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"").csv(stage)
      graft.sources.FileSources.csvMultiline(s, stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          sum(length(col("payload"))).cast("long").as("payload_chars"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("payload"))))).as("payload_checksum"))
        .orderBy("lang")
    }),

    // JSON-lines sink → JSON source (schema inference) → aggregate.
    "jsonl_roundtrip" -> ((s, d) => {
      val stage = jsonlStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").json(stage)
      graft.sources.FileSources.json(s, stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")
    }),

    // WARC shard ingest — the Common-Crawl arrival format, parsed by
    // strict Content-Length framing (WarcSource). The staged fixture
    // plants response payloads that CONTAIN "WARC/1.0" header lines, so
    // any parser that scans for the record magic instead of honoring
    // Content-Length splits records and fails the hash. The DuckDB
    // oracle never parses bytes: it re-generates the closed-form fixture
    // model (range() + repeat()) and must agree on per-site counts,
    // payload byte sums, an (idx × len) moment that pins the full record
    // ORDER within each shard, and an md5 content checksum — the pixel-
    // gate design applied to an archive format. Scale shape: one task
    // per shard (the real Common Crawl layout), single forward parse
    // pass, codegen'd aggregation after.
    "warc_ingest" -> ((s, d) =>
      warcAuditOf(graft.sources.WarcSource.records(
        s, graft.sources.WarcSource.stageFixture(warcStage(d))))),

    // The same fixture, records and audit — but the records come from a
    // REAL Structured Streaming execution (binaryFile FileStreamSource →
    // parse → append parquet sink across three 8-shard micro-batches,
    // EventStreams.warcRecordsLive) instead of the batch reader. Shares
    // warc_ingest's oracle verbatim: the streaming arrival path must
    // reproduce the batch parse bit-for-bit.
    "warc_ingest_live" -> ((s, d) =>
      warcAuditOf(graft.streaming.EventStreams.warcRecordsLive(
        s, graft.sources.WarcSource.stageFixture(warcStage(d))))),

    // The same fixture again, through the ACTUAL Common Crawl wire
    // format: each record wrapped in its own gzip member, members
    // concatenated per shard. The reader must gunzip MULTI-member
    // streams (a one-member decompressor sees exactly one record per
    // shard and fails the counts); decompressed bytes are identical to
    // the plain shards, so warc_ingest's oracle holds verbatim.
    "warc_gz_ingest" -> ((s, d) =>
      warcAuditOf(graft.sources.WarcSource.recordsGz(
        s, graft.sources.WarcSource.stageGzFixture(Stage.dir(d, "warc_gz"))))),

    // The same fixture through Common Crawl's CURRENT alternative wire
    // format, .warc.zst: one checksummed zstd frame per record plus the
    // spec's leading skippable (dictionary-slot) frame per shard. The
    // reader must walk MULTI-frame streams, skip skippable frames
    // without emitting bytes, and verify embedded content checksums;
    // decompressed bytes are identical to the plain shards, so
    // warc_ingest's oracle holds verbatim.
    "warc_zst_ingest" -> ((s, d) =>
      warcAuditOf(graft.sources.WarcSource.recordsZst(
        s, graft.sources.WarcSource.stageZstFixture(Stage.dir(d, "warc_zst"))))),

    // The DICTIONARY-compressed `.warc.zst` layout — the IIPC spec's
    // full form: every record is its own zstd frame compressed against
    // one TRAINED dictionary (ZDICT over the fixture's records) carried
    // in the leading dictionary-slot skippable frame (magic 0x184D2A5D;
    // odd shards carry the dictionary itself zstd-compressed, the
    // spec's optional variant). This is what per-record seekability
    // costs at shard-level ratios in production crawls: small frames
    // compress terribly alone, so the shared dictionary IS the format's
    // economics. The reader loads the slot and decompresses every
    // following frame against it; a reader that merely SKIPS the slot
    // (our pre-round-18 behavior, and the naive implementation) fails
    // every record frame's embedded dictID — loud, pinned in
    // WarcSourceSpec. Decompressed bytes are byte-identical to the
    // plain shards, so warc_ingest's closed-form oracle holds verbatim.
    "warc_zstdict_ingest" -> ((s, d) =>
      warcAuditOf(graft.sources.WarcSource.recordsZst(
        s, graft.sources.WarcSource.stageZstDictFixture(Stage.dir(d, "warc_zstdict"))))),

    // WARC → WET text extraction — the chain a crawl corpus actually runs
    // after ingest: for every response record, parse the PAYLOAD as an
    // HTTP/1.1 message (status line / headers / CRLFCRLF body split),
    // DE-CHUNK Transfer-Encoding: chunked bodies (a third of the staged
    // responses arrive chunked — hex size lines, chunk extensions,
    // trailers), gate on status and media type, and extract body text.
    // The oracle regenerates the closed-form HTTP fixture model over the
    // DE-CHUNKED bodies; the checksum is summed over 200-status
    // responses ONLY, so the status-line parse gates content,
    // body_tokens pins the text split (chunk boundaries land mid-token
    // on purpose), and n_chunked pins which rows took the chunked path.
    // Same one-task-per-shard scale shape as warc_ingest.
    "warc_http_extract" -> ((s, d) => {
      val paths = graft.sources.WarcSource.stageHttpFixture(
        Stage.dir(d, "warc_http"))
      graft.sources.WarcSource.httpResponses(s, paths)
        .withColumn("site",
          regexp_extract(col("uri"), "http://(h\\d+)\\.example", 1))
        .groupBy("site")
        .agg(
          count(lit(1)).as("n_responses"),
          sum(when(col("status") === 200, 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("media_type") === "text/html", 1L).otherwise(0L)).as("n_html"),
          sum(col("chunked").cast("long")).as("n_chunked"),
          sum("body_len").as("body_bytes"),
          sum("body_tokens").as("token_sum"),
          sum(when(col("status") === 200,
            graft.functions.PortableHash.h60p(
              concat(col("uri"), lit("|"), col("body_md5"))))
            .otherwise(0L)).as("ok_checksum"))
        .orderBy("site")
    }),

    // Charset-aware WET extraction — the ingest-fidelity step
    // warc_http_extract stops short of: DECODE each response body to
    // text honoring the Content-Type charset parameter (quoted, mixed-
    // case labels), strict-UTF-8 with a windows-1252 fallback when the
    // parameter is absent or unsupported (the WHATWG rule). Real crawls
    // are 10-20% legacy-encoded; a UTF-8-only decode silently mojibakes
    // those bodies into the corpus. The fixture plants one response per
    // decode case per shard (declared utf-8 / windows-1252 /
    // ISO-8859-1 / Shift_JIS, absent-param invalid-UTF-8 fallback,
    // quoted label, bogus label) with multibyte bodies whose md5-keyed
    // text checksums only match under the CORRECT decode — U+FFFD or a
    // wrong letter anywhere hash-fails. char_sum counts CODE POINTS, so
    // even a checksum-colliding miss would have to preserve character
    // counts across encodings. Same one-task-per-shard scale shape as
    // warc_ingest.
    "warc_charset_extract" -> ((s, d) => {
      val paths = graft.sources.WarcSource.stageCharsetFixture(
        Stage.dir(d, "warc_charset"))
      graft.sources.WarcSource.httpTexts(s, paths)
        .withColumn("case_id", regexp_extract(col("uri"), "/c(\\d+)$", 1).cast("int"))
        .groupBy("case_id")
        .agg(
          min("declared").as("declared_charset"),
          min("used").as("used_charset"),
          count(lit(1)).as("n_responses"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(
            concat(col("uri"), lit("|"), md5(col("text"))))).as("text_checksum"))
        .orderBy("case_id")
    }),

    // GZIP-compressed CSV round-trip — the shape real LLM corpora arrive
    // in (Common-Crawl-style compressed shards). Spark's text sources
    // decompress by file extension natively; the SCALE caveat is that
    // gzip is NOT splittable, so one .gz file = one task regardless of
    // size — a 100 TB corpus must arrive as many shard files (the
    // standard layout), each a task, never one giant archive. The oracle
    // reads the same .csv.gz bytes (DuckDB auto-detects gzip by
    // extension), so codec + parse are checked across two independent
    // readers.
    "csv_gz_roundtrip" -> ((s, d) => {
      val stage = csvGzStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(stage)
      graft.sources.FileSources.csv(s, stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // GZIP-compressed JSON-lines round-trip (same non-splittable-codec
    // caveat as csv_gz_roundtrip; .jsonl.gz shards are THE interchange
    // format for web-scale text corpora).
    "jsonl_gz_roundtrip" -> ((s, d) => {
      val stage = jsonlGzStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").option("compression", "gzip").json(stage)
      graft.sources.FileSources.json(s, stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")
    }),

    // ZSTD-compressed JSON-lines round-trip through graft's OWN Hadoop
    // codec (ZstdShardCodec): Hadoop's built-in ZStandardCodec needs the
    // native libhadoop+libzstd pair this deployment (like most) lacks,
    // so the library ships a pure-JVM zstd-jni codec exposed through the
    // CompressionCodec SPI — the write is a normal Spark json sink with
    // the codec FQCN, the read is a normal extension-mapped text scan,
    // BOTH distributed (one task per shard both directions; 3 shards
    // staged so the parallelism is real). Frames carry content checksums;
    // the reader decodes continuously across concatenated frames. Same
    // non-splittable caveat as .gz text — a 100 TB corpus arrives as many
    // shards, never one archive; splittable zstd belongs to parquet
    // (parquet_zstd_roundtrip). The DuckDB oracle decodes the very same
    // .json.zst bytes with its own independent zstd reader.
    "jsonl_zst_roundtrip" -> ((s, d) => {
      graft.sources.ZstdShardCodec.register(s)
      val stage = jsonlZstStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "n_chars")
        .repartition(3, col("doc_id"))
        .write.mode("overwrite")
        .option("compression", classOf[graft.sources.ZstdShardCodec].getName)
        .json(stage)
      graft.sources.FileSources.json(s, stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")
    }),

    // ZSTD-compressed parquet round-trip — the archival codec a 100 TB
    // lake actually uses (2-3× smaller than snappy at similar scan cost,
    // and SPLITTABLE unlike .gz text: parquet compresses per column
    // chunk, so row-group parallelism survives any codec). Spark writes
    // via parquet-java's zstd path; the oracle decodes the very same
    // bytes with DuckDB's independent zstd+parquet implementation.
    "parquet_zstd_roundtrip" -> ((s, d) => {
      val stage = pqZstdStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd").parquet(stage)
      s.read.parquet(stage)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // ORC round-trip — the OTHER columnar lake format Spark ships with
    // (zstd-compressed, same pushdown/pruning machinery as parquet;
    // FileSourcesSpec pins the pushed filters and the reader-reported
    // stripe/compression metadata). DuckDB has no ORC reader, so this
    // gate uses the closed-form-model discipline instead of re-reading
    // the bytes: Spark writes the staged ORC from documents, reads it
    // back through the real DataSource scan path, and aggregates WITH a
    // row-level order-independent checksum over every round-tripped
    // column — the oracle recomputes the identical aggregate from the
    // source parquet, so any row lost, duplicated, or value-corrupted in
    // the ORC write→read chain breaks count or hash.
    "orc_roundtrip" -> ((s, d) => {
      val stage = orcStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1)
        .write.mode("overwrite").option("compression", "zstd").orc(stage)
      graft.sources.FileSources.orc(s, stage)
        .transform(docsAuditOf)
    }),

    // Hive-partitioned ORC twin — directory-encoded partition column +
    // partition pruning on the read-back (lang=en never scanned), the
    // same layout contract parquet_hive_roundtrip pins for parquet.
    // Same closed-form oracle discipline as orc_roundtrip: the checksum
    // covers the directory-decoded lang via the group key and every
    // data column via the hash.
    "orc_hive_roundtrip" -> ((s, d) => {
      val stage = orcHiveStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").orc(stage)
      graft.sources.FileSources.orc(s, stage)
        .filter(col("lang") =!= "en") // directory-pruned, as in the parquet twin
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"),
          min("doc_id").as("first_doc"),
          sum(graft.functions.PortableHash.h60p(
            concat(col("doc_id").cast("string"), lit("|"),
              col("n_chars").cast("string")))).as("checksum"))
        .orderBy("lang", "source")
    }),

    // `.jsonl.bz2` round-trip — the ONE text codec in the whole zoo
    // that is SPLITTABLE: Hadoop's pure-Java BZip2Codec implements
    // SplittableCompressionCodec (block-boundary resync), so unlike
    // gzip/zstd shards — where one shard = one task forever — a single
    // huge .bz2 shard still fans out across executors at 100 TB. The
    // trade is CPU (bzip2 is the slowest codec here); crawl archives
    // historically shipped .bz2 for exactly this split-ability. DuckDB
    // reads gzip/zstd but not bz2, so this gate uses the closed-form
    // row-checksum discipline (orc_roundtrip's): any row lost,
    // duplicated, or corrupted across the compress→split→decode chain
    // breaks count or hash against the source-table recompute.
    "jsonl_bz2_roundtrip" -> ((s, d) => {
      val stage = jsonlBz2Stage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .coalesce(1) // ONE shard on purpose: the read back still splits
        .write.mode("overwrite").option("compression", "bzip2").json(stage)
      graft.sources.FileSources.json(s, stage)
        .transform(docsAuditOf)
    }),

    // Avro OCF round-trip — the ROW-oriented wire format log/Kafka
    // pipelines ship (vs parquet/ORC's columnar archival layouts). No
    // spark-avro module in the image, so both directions run on the
    // avro CORE library (AvroSource): the sink writes one zstd-coded
    // OCF shard per partition through the Hadoop FileSystem API (no
    // driver funnel — works against HDFS/S3 unchanged), the source is
    // a parse-as-filter over whole shards, one task each. DuckDB has no
    // Avro reader either, so this uses orc_roundtrip's closed-form
    // discipline: the read-back aggregates WITH a row-level checksum
    // over every round-tripped column and the oracle recomputes the
    // identical aggregate from the source parquet — any row lost,
    // duplicated, or corrupted across the encode→codec→decode chain
    // breaks count or hash.
    "avro_roundtrip" -> ((s, d) => {
      val stage = avroStage(d)
      graft.sources.AvroSource.writeShards(
        Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
        stage, codec = "zstandard", numShards = 4)
      graft.sources.AvroSource.read(s, stage)
        .transform(docsAuditOf)
    }),

    // The STREAMING twin of avro_roundtrip: the same six OCF shards
    // arriving through a REAL Structured Streaming execution
    // (binaryFile FileStreamSource → per-shard DataFileReader parse →
    // append parquet sink across three 2-file micro-batches) — log
    // shards arriving continuously is OCF's native habitat, and the
    // gate pins live ≡ batch through the identical aggregate + oracle.
    "avro_ingest_live" -> ((s, d) => {
      val stage = avroLiveStage(d)
      val paths = graft.sources.AvroSource.writeShards(
        Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
        stage, codec = "deflate", numShards = 6)
      graft.streaming.EventStreams.avroRowsLive(s, paths)
        .transform(docsAuditOf)
    }),

    // Avro schema-evolution read — the resolution machinery that makes
    // Avro the log-pipeline format: old shards are written with schema
    // v1 (n_chars as INT), the reader supplies schema v2 and the
    // LIBRARY applies the spec's resolution rules at decode time —
    // int→long promotion for n_chars, and the declared default (0.25)
    // for the added `quality` field the writer never knew about. The
    // audit counts rows that came back with exactly the default, so a
    // resolution regression is measurable: a reader that null-fills or
    // zero-fills instead of applying the Avro default breaks
    // n_defaulted; one that mis-promotes breaks chars. Same
    // closed-form oracle discipline as avro_roundtrip.
    "avro_evolution" -> ((s, d) => {
      val stage = avroEvoStage(d)
      graft.sources.AvroSource.writeShards(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("n_chars").cast("int").as("n_chars")),
        stage, codec = "deflate", numShards = 4)
      val readerV2 =
        """{"type":"record","name":"GraftRecord","namespace":"graft.avro",
           |"fields":[
           |  {"name":"doc_id","type":["null","long"],"default":null},
           |  {"name":"lang","type":["null","string"],"default":null},
           |  {"name":"n_chars","type":["null","long"],"default":null},
           |  {"name":"quality","type":"double","default":0.25}
           |]}""".stripMargin
      graft.sources.AvroSource.read(s, stage, Some(readerV2))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"),
          sum(when(col("quality") === 0.25, 1L).otherwise(0L)).as("n_defaulted"),
          sum(graft.functions.PortableHash.h60p(
            concat(col("doc_id").cast("string"), lit("|"),
              col("n_chars").cast("string")))).as("checksum"))
        .orderBy("lang")
    }),

    // Hive-partitioned layout round-trip — THE physical layout that makes
    // partition pruning work at 100 TB: the write shuffles once on the
    // partition key (repartition(lang) → one file per directory, not one
    // per task×key), the read-back's lang filter prunes directories
    // BEFORE any IO (only matching lang=... paths are listed/scanned),
    // and the partition column itself is directory-encoded, not stored.
    // The oracle re-derives lang from the same directory names via
    // DuckDB's hive_partitioning reader.
    "parquet_hive_roundtrip" -> ((s, d) => {
      val stage = pqHiveStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
        .repartition(col("lang"))
        .write.mode("overwrite").partitionBy("lang").parquet(stage)
      s.read.parquet(stage)
        .filter(col("lang") =!= "en") // directory-pruned: lang=en never scanned
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("chars"),
          min("doc_id").as("first_doc"))
        .orderBy("lang", "source")
    }),

    // Schema-evolution read — the lake reality that columns get ADDED
    // over a table's life: old shards (even doc_ids) lack n_chars, new
    // shards (odd doc_ids) carry it. mergeSchema unifies the footers at
    // read time and null-fills the old shards; the audit counts exactly
    // which rows came up short so a widening migration is measurable,
    // not silent. The oracle reads the same two shard directories with
    // DuckDB's independent union_by_name resolution. SCALE caveat
    // documented here once: mergeSchema reads EVERY file's footer up
    // front — at 100 TB pin the merged schema in a metastore/manifest
    // and pass it explicitly; this query is the read-path contract test.
    "parquet_evolution_roundtrip" -> ((s, d) => {
      val stage = pqEvoStage(d)
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0)
        .select("doc_id", "lang")
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "lang", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$stage/v2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$stage/v1", s"$stage/v2")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars"),
          sum(when(col("n_chars").isNull, 1L).otherwise(0L)).as("n_old_schema"))
        .orderBy("lang")
    }),

    // Corrupt-tolerant JSONL ingest — the robustness contract a real
    // corpus feed needs: every 7th staged line is deterministically
    // broken (three malformation shapes: unclosed object, non-JSON text,
    // missing value), the read-back uses PERMISSIVE mode with an
    // explicit schema + _corrupt_record, and the audit reports, per
    // bucket, line/good counts and good-row char sums — so a feed whose
    // corruption rate spikes is visible in one result instead of
    // crashing the job (FAILFAST) or silently dropping rows (DROPMALFORMED).
    // The oracle classifies the SAME staged bytes with DuckDB's
    // json_valid and must land on identical buckets — pinning that
    // Spark's corrupt-row semantics match an independent JSON parser's
    // notion of malformed.
    "jsonl_corrupt_audit" -> ((s, d) => {
      val stage = jsonlBadStage(d)
      val good = to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
      val broken =
        when(col("doc_id") % 3 === 0,
          concat(lit("{\"doc_id\": "), col("doc_id"), lit(", \"lang\": \"en\"")))
          .when(col("doc_id") % 3 === 1, lit("definitely not json"))
          .otherwise(lit("{\"doc_id\": }"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("value", when(col("doc_id") % 7 === 0, broken).otherwise(good))
        .select("value")
        .coalesce(1)
        .write.mode("overwrite").text(stage)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(stage)
        .withColumn("bucket", coalesce(col("lang"), lit("__corrupt")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
          sum(coalesce(col("n_chars"), lit(0L))).as("chars"))
        .orderBy("bucket")
    }),

    // WebDataset tar-shard ingest — the packed layout multimodal training
    // corpora ship in: each .tar shard holds samples as member-file
    // GROUPS sharing a basename (s123.txt + s123.json), re-paired by key
    // after the parse. The reader (TarSource) is a real ustar block walk
    // — checksum-verified headers, octal sizes, 512-block arithmetic
    // (payloads quote the "ustar" magic AND include exact block-multiple
    // sizes, so resync-by-magic and always-pad walkers both desync) —
    // and the audit exercises the WebDataset re-pairing itself:
    // n_samples counts bases with BOTH members present. The DuckDB
    // oracle regenerates the closed-form fixture model (counts, pairing,
    // byte sums, an order-pinning eidx×size moment, an md5 checksum).
    // Scale shape: one task per shard (the WebDataset contract — shards
    // ARE the parallelism unit), single forward parse, codegen'd
    // aggregation after.
    "tar_ingest" -> ((s, d) =>
      tarAuditOf(graft.sources.TarSource.entries(
        s, graft.sources.TarSource.stageFixture(tarStage(d))))),

    // LaTeX text extraction — the arXiv arrival format (scientific
    // corpora ship TeX sources; pdf_extract handles the rendered twin).
    // A real character scanner (TexSource): body-only extraction with
    // \end{document} recognized DURING the scan (the fixture comments a
    // decoy end-tag — a textual search truncates there), comments
    // eaten, inline/display/environment math DROPPED, wrapper commands
    // (\section/\textbf/\emph) unwrapped, unknown commands dropped WITH
    // their argument, escapes and ~ decoded. The oracle rebuilds the
    // expected text closed-form from id arithmetic and never parses
    // TeX — any rule slip shifts a checksum. Parse-as-filter map-only
    // pass (the pdf_extract scale family).
    "tex_extract" -> ((s, d) =>
      graft.sources.TexSource.extractedTexts(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_lines").as("line_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("source")),

    // Markdown extraction — the README/docs format every repository
    // leads with: fenced code blocks leave the prose channel (counted,
    // char-summed — curation routes code and prose to different
    // filters), headers/links/images/emphasis/inline-code unwrap to
    // their text. The oracle rebuilds the prose truth closed-form from
    // id arithmetic (the tex_extract discipline); a rule slip shifts
    // the checksum. Parse-as-filter map-only pass.
    "md_extract" -> ((s, d) =>
      graft.sources.MarkdownSource.extractedMd(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_fences").as("fence_sum"),
          sum("code_chars").as("code_char_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("source")),

    // Jupyter notebook extraction — the format code-pretraining corpora
    // actually arrive in (GitHub ships millions of .ipynb): JSON whose
    // `cells` array interleaves markdown and code, code cells carrying
    // `outputs` that curation STRIPS (outputs are leakage/noise; the
    // audit counts them so the strip is measurable). Parse is Spark's
    // own from_json with an explicit nbformat-4 schema — codegen'd, no
    // UDFs — and the oracle parses the SAME staged bytes with DuckDB's
    // independent JSON machinery (json_transform over $.cells), so the
    // gate is the two-engines-same-bytes discipline, not a model
    // replay. Fixture sources quote JSON-hostile characters
    // (backslash, quote, newline) so string decoding is exercised.
    "ipynb_extract" -> ((s, d) =>
      graft.sources.NotebookSource.cells(s,
          graft.sources.NotebookSource.stageFixture(s, d, ipynbStage(d)))
        .groupBy("language")
        .agg(countDistinct("nb_id").as("n_notebooks"),
          sum(when(col("cell_type") === "code", 1L).otherwise(0L)).as("n_code"),
          sum(when(col("cell_type") === "markdown", 1L).otherwise(0L)).as("n_md"),
          sum(when(col("cell_type") === "code", length(col("src")))
            .otherwise(0L).cast("long")).as("code_chars"),
          sum(col("n_outputs").cast("long")).as("n_outputs_stripped"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("nb_id"), col("cell_idx"), md5(col("src"))))).as("src_checksum"))
        .orderBy("language")),

    // DOCX text extraction — the dominant enterprise/document arrival
    // format after PDF: an OPC package (a ZIP whose word/document.xml
    // carries WordprocessingML). COMPOSES the audited ZipSource
    // central-directory walk with a hand ECMA-376 scanner: split
    // <w:t> runs concatenate, xml:space governs trimming, tab/br map,
    // field instrText and tracked-change delText never reach prose,
    // table-cell paragraphs count, entities decode. The oracle
    // rebuilds the prose truth closed-form from doc_id arithmetic
    // (the tex/md discipline) — a rule slip shifts the checksum.
    // Parse-as-filter map-only pass over staged real .docx bytes.
    "docx_extract" -> ((s, d) =>
      graft.sources.DocxSource.extractedDocx(s,
          graft.sources.DocxSource.stageFixture(s, d, docxStage(d)))
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_paras").as("para_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("bucket")),

    // ODT text extraction — the OpenDocument sibling of DOCX
    // (LibreOffice's native format): an ODF package (a ZIP whose
    // content.xml carries the body, with a mandatory STORED mimetype
    // member). COMPOSES the audited ZipSource walk with a hand ODF 1.2
    // scanner: prose is character data directly in text:p/text:h (no
    // run elements), text:span unwraps, raw whitespace runs COLLAPSE
    // while explicit <text:s text:c="N"/>/<text:tab/>/<text:line-break/>
    // expand, office:annotation (nesting its own text:p) never reaches
    // prose, entities decode, the mimetype member is verified. The
    // oracle rebuilds the prose truth closed-form from doc_id
    // arithmetic (the docx discipline) — a rule slip shifts the
    // checksum. Parse-as-filter map-only pass over staged real .odt
    // bytes.
    "odt_extract" -> ((s, d) =>
      graft.sources.OdtSource.extractedOdt(s,
          graft.sources.OdtSource.stageFixture(s, d, odtStage(d)))
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_paras").as("para_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("bucket")),

    // ODS cell extraction — the OpenDocument spreadsheet, completing
    // the ODF pair the way xlsx_extract completes the OPC one. The
    // gate's teeth are the REPEAT attributes: number-columns-repeated
    // advances grid positions (a reader ignoring it mis-addresses
    // every later cell and the checksum breaks), number-rows-repeated
    // materializes whole rows, a 16384-wide empty padding trailer must
    // NOT materialize (phantom-cell flood), covered cells under merges
    // advance but emit nothing — and typed values come from the
    // canonical office:value attributes while the display text
    // deliberately LIES in the fixture. Closed-form oracle.
    "ods_extract" -> ((s, d) =>
      graft.sources.OdsSource.extractedOds(s,
          graft.sources.OdsSource.stageFixture(s, d, odsStage(d)))
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_cells"),
          sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
          sum(when(col("kind") === "num",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
            .otherwise(0L)).as("num_cents"),
          sum(when(col("kind") === "bool", col("value").cast("long"))
            .otherwise(0L)).as("bool_sum"),
          sum(when(col("kind") === "text" || col("kind") === "date",
            graft.functions.PortableHash.h60p(concat_ws(":",
              col("doc_id"), col("row"), col("col"), md5(col("value")))))
            .otherwise(0L)).as("text_checksum"))
        .orderBy("bucket")),

    // RTF text extraction — the legacy interchange format (Word/
    // Wordpad era) a real document corpus still carries: NOT a ZIP
    // container but a 7-bit control-word format, parsed by a hand
    // recursive-state scanner (group stack, destination skipping,
    // delimiter-space consumption, cp1252 \'hh and \uN escapes with
    // \ucN fallback skipping, fields whose instruction drops and
    // result stays). The oracle rebuilds the prose truth closed-form
    // from doc_id arithmetic — a rule slip (the classic: forgetting
    // that a control word EATS one trailing space) shifts the
    // checksum. Parse-as-filter map-only pass over staged real .rtf
    // bytes.
    "rtf_extract" -> ((s, d) =>
      graft.sources.RtfSource.extractedRtf(s,
          graft.sources.RtfSource.stageFixture(s, d, rtfStage(d)))
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_paras").as("para_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("bucket")),

    // The mixed-corpus FRONT DOOR — what an ingest tier actually faces:
    // ONE directory of mixed .docx/.pptx/.epub/.odt files (id%4 routing over
    // the kept ids, reusing the four container fixtures' byte builders),
    // dispatched by extension to the per-format extractor into a
    // unified (doc_id, format, text) frame — proving the extractors
    // COMPOSE into one pipeline, not just pass isolated gates. Two
    // poison plants must vanish through the parse-as-filter contract:
    // a corrupt .docx under a plausible name and an unknown extension
    // (a parser that "succeeds" on either adds a row and breaks the
    // per-format counts). The oracle rebuilds each format's prose
    // model closed-form and unions them under the same id routing.
    "pipeline_mixed_extract" -> ((s, d) =>
      mixedExtractRows(s, stageMixed(s, d))
        .groupBy("format")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("format")),

    // EPUB chapter extraction — the BOOK corpus container: the full
    // OCF three-hop indirection (META-INF/container.xml → the OPF
    // package → manifest hrefs + THE SPINE as reading order) walked
    // per the public EPUB spec, then the chapters' XHTML stripped by
    // the SAME codegen'd htmlToText chain text_html_extract gates (one
    // HTML semantics, two gates). The fixture's teeth: spine order
    // (intro, zeta, alpha) differs from BOTH the ZIP central-directory
    // order and lexical href order, and each chapter carries a
    // distinct content tag — wrong pairing of chapter index to content
    // breaks the checksum even with the right count; the spine also
    // references an SVG cover (no text) and the manifest a CSS item
    // the spine never uses. Parse-as-filter map-only walk + codegen'd
    // strip; closed-form oracle.
    "epub_extract" -> ((s, d) =>
      TextAnalysis.htmlToText(
          graft.sources.EpubSource.chapters(s,
            graft.sources.EpubSource.stageFixture(s, d, epubStage(d))),
          "xhtml", "text")
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_chapters"),
          sum(length(col("text")).cast("long")).as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), col("chap_idx"), md5(col("text"))))).as("chap_checksum"))
        .orderBy("bucket")),

    // PPTX text extraction — the third OPC format (slide decks carry a
    // real fraction of enterprise prose): the audited ZipSource walk +
    // a DrawingML §21.1 scanner sharing DocxSource's machinery. The
    // gate's teeth: slides read in NUMERIC order (the fixture's deck
    // is slides 1, 2 and 10 stored in the central directory's LEXICAL
    // order — a naive walk emits slide 10 before slide 2 and the text
    // checksum breaks), split <a:t> runs concatenating, <a:fld> field
    // runs (slide numbers) never reaching prose, <a:br/> newlines,
    // entities, empty paragraphs dropped. Closed-form oracle.
    "pptx_extract" -> ((s, d) =>
      graft.sources.PptxSource.extractedPptx(s,
          graft.sources.PptxSource.stageFixture(s, d, pptxStage(d)))
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_slides").as("slide_sum"),
          sum("n_paras").as("para_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), md5(col("text"))))).as("text_checksum"))
        .orderBy("bucket")),

    // XLSX cell extraction — the OTHER dominant OPC format (tabular
    // enterprise data ships as spreadsheets): the audited ZipSource
    // walk + a hand ECMA-376 §18 SpreadsheetML scanner. The gate's
    // teeth: the SHARED-STRING indirection (t="s" cells store an INDEX
    // into xl/sharedStrings.xml — a reader that takes <v> literally
    // emits row numbers as text and every text checksum breaks),
    // rich-text runs concatenating with xml:space, inline strings,
    // FORMULA cells whose cached <v> is taken while the formula text
    // never leaks, booleans, negatives, an empty cell skipped, and a
    // two-letter AA column decoded by the bijective base-26 rule.
    // Numeric cells aggregate as exact decimal cents; the oracle
    // rebuilds every cell closed-form from doc_id arithmetic.
    "xlsx_extract" -> ((s, d) =>
      graft.sources.XlsxSource.extractedXlsx(s,
          graft.sources.XlsxSource.stageFixture(s, d, xlsxStage(d)))
        .withColumn("bucket", col("doc_id") % 7)
        .groupBy("bucket")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_cells"),
          sum(when(col("kind") === "text", 1L).otherwise(0L)).as("n_text"),
          sum(when(col("kind") === "num",
            (col("value").cast("decimal(18,2)") * 100).cast("long"))
            .otherwise(0L)).as("num_cents"),
          sum(when(col("kind") === "bool", col("value").cast("long"))
            .otherwise(0L)).as("bool_sum"),
          sum(when(col("kind") === "text",
            graft.functions.PortableHash.h60p(concat_ws(":",
              col("doc_id"), col("ref"), md5(col("value")))))
            .otherwise(0L)).as("text_checksum"))
        .orderBy("bucket")),

    // CDX index build — the seekability artifact that makes WARC
    // archives usable at 100 TB: per-record (offset, length) rows let a
    // consumer range-request ONE record out of a ~1 GB shard (Common
    // Crawl publishes exactly this index beside its shards). Offsets
    // cannot be modeled by the oracle (they depend on header byte
    // layouts), so the gate makes them LOAD-BEARING instead: parseCdx
    // re-parses every indexed byte slice in isolation — the very
    // operation a range-requesting consumer performs — and additionally
    // requires the records to tile the shard end to end with no gaps;
    // n_seek_ok must equal n_responses, and one wrong offset/length
    // breaks it. Content columns replay the closed-form fixture model
    // exactly as warc_ingest does.
    "warc_cdx_index" -> ((s, d) =>
      graft.sources.WarcSource.cdxIndex(
          s, graft.sources.WarcSource.stageFixture(warcStage(d)))
        .filter(col("rec_type") === "response")
        .withColumn("site",
          regexp_extract(col("uri"), "http://(site\\d+)\\.example", 1))
        .groupBy("site")
        .agg(count(lit(1)).as("n_responses"),
          sum(when(col("seek_ok"), 1L).otherwise(0L)).as("n_seek_ok"),
          sum("payload_len").as("payload_bytes"),
          sum(col("idx").cast("long") * col("payload_len")).as("moment"),
          sum(graft.functions.PortableHash.h60p(
            concat(col("uri"), lit("|"), col("payload_md5")))).as("checksum"))
        .orderBy("site")),

    // The COMPRESSED WebDataset layout (.tar.gz): the same 16 shards
    // byte-identical after a strict multi-member gunzip, cut into
    // 1500-byte gzip members whose boundaries never align with tar
    // blocks — parsing members individually instead of
    // concatenate-then-walk desyncs at the first cut header. Because the
    // decompressed stream equals the plain shards exactly, the audit and
    // its oracle hold verbatim; agreement here proves the decompression
    // layer is a true identity, not approximately one.
    "tgz_ingest" -> ((s, d) =>
      tarAuditOf(graft.sources.TarSource.entriesGz(
        s, graft.sources.TarSource.stageGzFixture(Stage.dir(d, "tgz"))))),

    // ZIP shard ingest — the archive format scraped datasets actually
    // arrive in. The reader (ZipSource) walks the CENTRAL DIRECTORY
    // (the only authoritative index): every fixture shard plants an
    // orphaned local entry a sequential local-header walker would
    // over-count, data-descriptor members whose local sizes are zero,
    // payloads quoting the "PK\3\4" magic (resync-by-signature splits
    // them), local-only extra fields (central lengths locate data
    // wrongly), and a non-empty EOCD comment (fixed -22 readers miss
    // the record). Per-member verification: signatures, local-vs-
    // central agreement, exact inflate length, CRC-32 of the
    // decompressed payload. The audit separates stored/deflated/
    // descriptor members so every branch of the walk is oracle-visible;
    // the DuckDB oracle regenerates the closed-form payload model —
    // compressed bytes never reach it, only decompressed identities.
    // Scale shape: one task per shard (the central directory lives at
    // the END, so ZIP is a seekable-blob format, not split-streamable),
    // codegen'd aggregation after.
    // Parquet FOOTER introspection — the lake-health audit every
    // compaction/retention planner consumes: row-group/column-chunk
    // layout, value counts, compression codec, compressed byte totals
    // and column statistics, read from the FOOTER METADATA (zero data
    // pages touched). Spark reads footers with parquet-hadoop's
    // ParquetFileReader in a DISTRIBUTED pass (paths parallelized, one
    // footer per task — the shape that audits a million-file lake);
    // the DuckDB oracle reads the very same staged files through its
    // independent parquet_metadata() reader, so every footer field the
    // audit reports (chunk counts, value counts, codec, compressed
    // sizes, the doc_id min/max statistics) is cross-checked by two
    // unrelated parquet implementations over identical bytes.
    "parquet_footer_audit" -> ((s, d) => {
      val stage = pqAuditStage(d)
      Tables.documents(s, d)
        .select("doc_id", "lang", "n_chars")
        .repartition(2, col("doc_id")) // two part files: the audit must aggregate across files
        .write.mode("overwrite").option("compression", "zstd").parquet(stage)
      import s.implicits._
      import scala.jdk.CollectionConverters._
      val paths = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted.toSeq
      val chunks = s.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.size, 4)))
        .flatMap { p =>
          val conf = new org.apache.hadoop.conf.Configuration()
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            r.getFooter.getBlocks.asScala.flatMap { bg =>
              bg.getColumns.asScala.map { cc =>
                val name = cc.getPath.toDotString
                val st = cc.getStatistics
                val (mn, mx) =
                  if (name == "doc_id" && st != null && st.hasNonNullValue)
                    (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                      st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
                  else (-1L, -1L)
                (name, cc.getValueCount, cc.getCodec.name.toLowerCase,
                  cc.getTotalSize, mn, mx)
              }.toSeq
            }
          } finally r.close()
        }
        .toDF("column_name", "nv", "codec", "csize", "mn", "mx")
      chunks.groupBy("column_name")
        .agg(
          count(lit(1)).as("n_chunks"),
          sum("nv").as("values_sum"),
          sum("csize").as("compressed_sum"),
          min("codec").as("codec"),
          min(when(col("mn") >= 0, col("mn")).otherwise(lit(null))).as("min_id"),
          max("mx").as("max_id"))
        .na.fill(-1L, Seq("min_id"))
        .orderBy("column_name")
    }),

    "zip_ingest" -> ((s, d) => {
      val e = graft.sources.ZipSource.entries(
        s, graft.sources.ZipSource.stageFixture(zipStage(d)))
        .withColumn("site",
          concat(lit("s"),
            (regexp_extract(col("file"), "part(\\d+)\\.zip", 1)
              .cast("int") % 4).cast("string")))
      e.groupBy("site")
        .agg(
          count(lit(1)).as("n_members"),
          sum(when(col("method") === 0, 1L).otherwise(0L)).as("n_stored"),
          sum(when(col("method") === 8, 1L).otherwise(0L)).as("n_deflated"),
          sum(when(col("streamed"), 1L).otherwise(0L)).as("n_streamed"),
          sum("usize").as("usize_sum"),
          sum(col("eidx") * col("usize")).as("moment"),
          sum(graft.functions.PortableHash.h60p(
            concat(col("name"), lit("|"), col("payload_md5")))).as("checksum"))
        .orderBy("site")
    }),

    // PDF text extraction — the document container after HTML (arXiv,
    // legal, government corpora arrive PDF-first). The staged PDFs are
    // real spec-conformant files and the parser is the real chain:
    // startxref → xref table(s) → objects at their RECORDED offsets (a
    // decoy "9 0 obj" inside a string literal is data), incremental
    // updates honored latest-first through the trailer /Prev chain (on
    // id%7==0 docs a second body REPLACES page 0's content — a parser
    // reading the first xref extracts stale text), /Length resolved
    // through an indirect forward reference on id%3==1 docs (the real-
    // writer layout), then content-stream tokenization: literal strings
    // with balanced-paren nesting + escapes incl. octal, hex strings,
    // TJ arrays whose kerning numbers emit nothing, Td/TD line logic.
    // The oracle replays the decoded text model closed-form (md5 per
    // page text) and never parses PDF — any slip anywhere in the chain
    // shifts a checksum. Scale: parse-as-filter mapPartitions (the
    // codec-gate family), then one codegen'd aggregate.
    "pdf_extract" -> ((s, d) => {
      graft.sources.PdfSource.extractedPages(s, d)
        .groupBy("source")
        .agg(
          countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_pages"),
          sum("n_ops").as("ops_sum"),
          sum("n_chars").as("char_sum"),
          sum(graft.functions.PortableHash.h60p(concat_ws(":",
            col("doc_id"), col("page"), col("text_md5")))).as("text_checksum"))
        .orderBy("source")
    })
  )

  /** The per-site WebDataset audit over a TarSource entries-shaped frame
    * — shared by the plain (tar_ingest) and gzip (tgz_ingest) readers,
    * which must agree on every column (same discipline as warcAuditOf).
    * `site` derives from the shard ordinal (regex matches shardNN.tar
    * and shardNN.tar.gz alike); n_samples exercises the WebDataset
    * re-pairing: bases with BOTH the .txt and .json member present. */
  private def tarAuditOf(e0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Lazy checkpoint: e feeds the member-file funnel AND the dirs
    // count (joined at the end) — without the cut the whole ustar
    // block-walk parse (a typed mapPartitions decode of every shard)
    // runs once per branch.
    val e = e0.withColumn("site",
      concat(lit("s"),
        (regexp_extract(col("file"), "shard(\\d+)\\.tar", 1)
          .cast("int") % 4).cast("string")))
      .localCheckpoint(eager = false)
    val files = e.filter(col("typeflag") === "0")
      .withColumn("base", regexp_extract(col("name"), "^(.*)\\.(txt|json)$", 1))
      .withColumn("ext", regexp_extract(col("name"), "\\.(txt|json)$", 1))
    val perSample = files
      .groupBy("site", "base")
      .agg(
        (max(when(col("ext") === "txt", 1).otherwise(0)) *
          max(when(col("ext") === "json", 1).otherwise(0))).as("paired"),
        count(lit(1)).as("nf"),
        sum(when(col("ext") === "txt", col("size")).otherwise(0L)).as("tb"),
        sum(col("eidx") * col("size")).as("mom"),
        sum(graft.functions.PortableHash.h60p(
          concat(col("name"), lit("|"), col("payload_md5")))).as("chk"))
    val dirs = e.filter(col("typeflag") === "5")
      .groupBy("site").agg(count(lit(1)).as("n_dirs"))
    perSample
      .groupBy("site")
      .agg(
        sum("nf").as("n_files"),
        sum("paired").cast("long").as("n_samples"),
        sum("tb").as("txt_bytes"),
        sum("mom").as("moment"),
        sum("chk").as("checksum"))
      .join(dirs, Seq("site"))
      .select("site", "n_dirs", "n_files", "n_samples", "txt_bytes",
        "moment", "checksum")
      .orderBy("site")
  }

  /** The per-site WARC ingest audit over a WarcSource.records-shaped
    * frame — shared by the batch reader gate (warc_ingest) and the
    * streaming-arrival gate (warc_ingest_live), which must agree. */
  private def warcAuditOf(records: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    records
      .filter(col("rec_type").isin("request", "response"))
      .withColumn("site",
        regexp_extract(col("uri"), "http://(site\\d+)\\.example", 1))
      .groupBy("site")
      .agg(
        sum(when(col("rec_type") === "response", 1L).otherwise(0L)).as("n_responses"),
        sum(when(col("rec_type") === "request", 1L).otherwise(0L)).as("n_requests"),
        sum(when(col("rec_type") === "response", col("payload_len"))
          .otherwise(0L)).as("payload_bytes"),
        sum(when(col("rec_type") === "response", col("idx") * col("payload_len"))
          .otherwise(0L)).as("moment"),
        sum(when(col("rec_type") === "response",
          graft.functions.PortableHash.h60p(
            concat(col("uri"), lit("|"), col("payload_md5"))))
          .otherwise(0L)).as("checksum"))
      .orderBy("site")

  // Dir-independent: the oracle regenerates WarcSource's closed-form
  // fixture model instead of reading staged bytes (DuckDB has no WARC
  // reader — the independence is the MODEL, exactly the pixel-decode
  // gate design). warcinfo records (idx 0) and request records
  // (idx 1+2i, fixed 5-byte body) surround each response (idx 2+2i).
  // Shared verbatim by warc_ingest_live: streaming arrival must change
  // nothing.
  private val warcIngestSql =
    s"""WITH shards AS (SELECT unnest(range(24)) AS f),
          resp AS (SELECT f, unnest(range(5 + (f % 4))) AS i FROM shards),
          m AS (SELECT f, i,
                       'http://site' || (f % 6) || '.example/f' || f || '/p' || i AS uri,
                       CASE WHEN i % 3 = 0
                            THEN 'WARC/1.0' || chr(13) || chr(10) ||
                                 'X: decoy' || chr(13) || chr(10)
                            ELSE '' END ||
                       repeat('x', 40 + ((f * 31 + i * 7) % 100)) AS payload
                FROM resp),
          p AS (SELECT 'site' || (f % 6) AS site,
                       CAST(2 + 2 * i AS BIGINT) AS idx,
                       CAST(length(payload) AS BIGINT) AS len,
                       uri || '|' || md5(payload) AS keyed
                FROM m)
        SELECT site, CAST(COUNT(*) AS BIGINT) AS n_responses,
               CAST(COUNT(*) AS BIGINT) AS n_requests,
               CAST(SUM(len) AS BIGINT) AS payload_bytes,
               CAST(SUM(idx * len) AS BIGINT) AS moment,
               CAST(SUM(${graft.functions.PortableHash.h60pSql("keyed")}) AS BIGINT) AS checksum
        FROM p GROUP BY 1 ORDER BY site"""

  // Dir-independent like warc_ingest: the oracle regenerates TarSource's
  // closed-form fixture model (16 shards; shard f = one directory member
  // + 5+(f%4) samples; txt payload = decoy ++ x^n with the exact-block
  // override at i%4==3; json sidecar string). Pairing, counts, byte sums,
  // the eidx×size order moment and the md5 checksum must all agree with
  // the real ustar block walk over the staged bytes.
  private val tarIngestSql =
    s"""WITH shards AS (SELECT unnest(range(16)) AS f),
          samp AS (SELECT f, unnest(range(5 + (f % 4))) AS i FROM shards),
          m AS (SELECT f, i, f * 100 + i AS k,
                       CASE WHEN i % 3 = 0 THEN 'ustar  00fake' ELSE '' END AS dcy
                FROM samp),
          m2 AS (SELECT f, i, k, dcy,
                        CASE WHEN i % 4 = 3 THEN 512 * (1 + (i % 2)) - length(dcy)
                             ELSE 300 + (f * 31 + i * 7) % 600 END AS n
                 FROM m),
          ent AS (
            SELECT f, 'd' || f || '/s' || k AS base,
                   'd' || f || '/s' || k || '.txt' AS name,
                   CAST(1 + 2 * i AS BIGINT) AS eidx,
                   CAST(length(dcy) + n AS BIGINT) AS sz,
                   md5(dcy || repeat('x', CAST(n AS INT))) AS h,
                   'txt' AS ext
            FROM m2
            UNION ALL
            SELECT f, 'd' || f || '/s' || k,
                   'd' || f || '/s' || k || '.json',
                   CAST(2 + 2 * i AS BIGINT),
                   CAST(length('{"k":' || k || ',"n":' || (length(dcy) + n) || '}') AS BIGINT),
                   md5('{"k":' || k || ',"n":' || (length(dcy) + n) || '}'),
                   'json'
            FROM m2),
          per AS (SELECT 's' || (f % 4) AS site, base,
                         MAX(CASE WHEN ext = 'txt' THEN 1 ELSE 0 END) *
                         MAX(CASE WHEN ext = 'json' THEN 1 ELSE 0 END) AS paired,
                         COUNT(*) AS nf,
                         SUM(CASE WHEN ext = 'txt' THEN sz ELSE 0 END) AS tb,
                         SUM(eidx * sz) AS mom,
                         SUM(${graft.functions.PortableHash.h60pSql("name || '|' || h")}) AS chk
                  FROM ent GROUP BY 1, 2)
        SELECT site, d.n_dirs,
               CAST(SUM(nf) AS BIGINT) AS n_files,
               CAST(SUM(paired) AS BIGINT) AS n_samples,
               CAST(SUM(tb) AS BIGINT) AS txt_bytes,
               CAST(SUM(mom) AS BIGINT) AS moment,
               CAST(SUM(chk) AS BIGINT) AS checksum
        FROM per JOIN (SELECT 's' || (f % 4) AS site,
                              CAST(COUNT(*) AS BIGINT) AS n_dirs
                       FROM shards GROUP BY 1) d USING (site)
        GROUP BY site, d.n_dirs ORDER BY site"""

  override def oracleSqlFor(dataDir: String): Map[String, String] = Map(
    "warc_ingest" -> warcIngestSql,
    "warc_ingest_live" -> warcIngestSql,
    "warc_gz_ingest" -> warcIngestSql,
    "warc_zst_ingest" -> warcIngestSql,
    // Identical model on purpose: the dictionary layer must be a byte
    // identity over the plain shards' records.
    "warc_zstdict_ingest" -> warcIngestSql,
    // The prose truth rebuilt closed-form from doc_id arithmetic
    // (MarkdownSource.mdExpected's exact lines + the fence-metric
    // arithmetic) — the oracle never sees a markdown byte.
    "md_extract" ->
      s"""WITH d AS (SELECT doc_id AS id, source FROM documents),
            t AS (SELECT id, source,
                    'Title ' || (id % 9) || chr(10) ||
                    'Intro emphasis ' || (id % 5) || ' and bold ' || (id % 7) ||
                      ' and code ' || (id % 3) || '.' || chr(10) ||
                    'Link ' || (id % 4) || ' and img ' || (id % 2) || ' here.' || chr(10) ||
                    'Tail ' || (id % 6) || ' line.' AS text,
                    length('val x = ' || (id * 13)) AS cc
                  FROM d)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS fence_sum,
                 CAST(SUM(cc) AS BIGINT) AS code_char_sum,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY source ORDER BY source""",
    // Each format's prose model rebuilt closed-form under the same
    // id%3 routing; the poison plants appear in NO branch — a parser
    // that passed them would break a format's count.
    "pipeline_mixed_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            dx AS (SELECT id, 'docx' AS format,
                     'Title bold ' || (id % 7) || ' tail.' || chr(10) ||
                     'Amp & lt < café h-' || (id % 5) || '.' || chr(10) ||
                     'A' || (id % 5) || chr(9) || 'B' || (id % 3) || chr(10) ||
                       'C' || (id % 9) || chr(10) ||
                     'Page ' || (id % 4) || chr(10) ||
                     'Kept ' || (id % 6) || '.' || chr(10) ||
                     'Cell ' || (id % 8) AS text
                   FROM d WHERE id % 4 = 0),
            pp AS (SELECT id, 'pptx' AS format,
                     'Deck ' || (id % 9) || ': bold ' || (id % 7) || chr(10) ||
                     'Intro ' || (id % 5) || '.' || chr(10) ||
                     'Amp & café ' || (id % 4) || chr(10) ||
                       'line ' || (id % 3) || chr(10) ||
                     'Closing ' || (id % 6) || '.' AS text
                   FROM d WHERE id % 4 = 1),
            ep AS (SELECT id, 'epub' AS format,
                     'Chap 7 alpha ' || (id % 9) || ' & beta. Line ' || (id % 5) || ' <end>.' ||
                     ' Chap 3 alpha ' || (id % 9) || ' & beta. Line ' || (id % 5) || ' <end>.' ||
                     ' Chap 1 alpha ' || (id % 9) || ' & beta. Line ' || (id % 5) || ' <end>.' AS text
                   FROM d WHERE id % 4 = 2),
            od AS (SELECT id, 'odt' AS format,
                     'Doc ' || (id % 9) || ' heading tail.' || chr(10) ||
                     'Amp & lt < café h-' || (id % 5) || '.' || chr(10) ||
                     'A' || (id % 5) || chr(9) || 'B' || (id % 3) || chr(10) ||
                       'C' || (id % 9) || chr(10) ||
                     'Gap one   three collapsed ' || (id % 4) || '.' || chr(10) ||
                     'Kept ' || (id % 6) || '.' || chr(10) ||
                     'Styled ' || (id % 8) AS text
                   FROM d WHERE id % 4 = 3),
            u AS (SELECT * FROM dx UNION ALL SELECT * FROM pp
                  UNION ALL SELECT * FROM ep UNION ALL SELECT * FROM od)
          SELECT format, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM u GROUP BY 1 ORDER BY format""",
    // Chapter text rebuilt closed-form (EpubSource.chapterExpected,
    // chapters in SPINE order with their content tags) — the oracle
    // never sees an epub byte.
    "epub_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            ch AS (SELECT id, 0 AS k, 7 AS tag FROM d
                   UNION ALL SELECT id, 1, 3 FROM d
                   UNION ALL SELECT id, 2, 1 FROM d),
            t AS (SELECT id, k,
                    'Chap ' || tag || ' alpha ' || (id % 9) ||
                    ' & beta. Line ' || (id % 5) || ' <end>.' AS text
                  FROM ch)
          SELECT id % 7 AS bucket,
                 CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_chapters,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || k || ':' || md5(text)")}) AS BIGINT) AS chap_checksum
          FROM t GROUP BY 1 ORDER BY bucket""",
    // The prose truth rebuilt closed-form from doc_id arithmetic
    // (PptxSource.pptxExpected's exact lines, slides in NUMERIC order)
    // — the oracle never sees a pptx byte.
    "pptx_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            t AS (SELECT id,
                    'Deck ' || (id % 9) || ': bold ' || (id % 7) || chr(10) ||
                    'Intro ' || (id % 5) || '.' || chr(10) ||
                    'Amp & café ' || (id % 4) || chr(10) ||
                      'line ' || (id % 3) || chr(10) ||
                    'Closing ' || (id % 6) || '.' AS text
                  FROM d)
          SELECT id % 7 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) * 3 AS BIGINT) AS slide_sum,
                 CAST(COUNT(*) * 4 AS BIGINT) AS para_sum,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY 1 ORDER BY bucket""",
    // Every cell rebuilt closed-form from doc_id arithmetic
    // (XlsxSource.expectedCells) — the oracle never sees an xlsx byte.
    "xlsx_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            cells AS (
              SELECT id, 'A1' AS ref, 'text' AS kind, 'Name ' || (id % 9) AS value FROM d
              UNION ALL SELECT id, 'B1', 'num', (id % 100) || '.25' FROM d
              UNION ALL SELECT id, 'AA1', 'num', CAST(id % 3 AS VARCHAR) FROM d
              UNION ALL SELECT id, 'A2', 'text', 'inline ' || (id % 5) FROM d
              UNION ALL SELECT id, 'B2', 'num', (id % 50) || '.5' FROM d
              UNION ALL SELECT id, 'C2', 'bool', CAST(id % 2 AS VARCHAR) FROM d
              UNION ALL SELECT id, 'A3', 'text', ' Café & co ' || (id % 4) FROM d
              UNION ALL SELECT id, 'C3', 'num', '-' || (id % 7) FROM d)
          SELECT id % 7 AS bucket,
                 CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_cells,
                 CAST(SUM(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
                 CAST(SUM(CASE WHEN kind = 'num'
                   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS num_cents,
                 CAST(SUM(CASE WHEN kind = 'bool' THEN CAST(value AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS bool_sum,
                 CAST(SUM(CASE WHEN kind = 'text' THEN ${graft.functions.PortableHash.h60pSql(
                   "id || ':' || ref || ':' || md5(value)")} ELSE 0 END) AS BIGINT) AS text_checksum
          FROM cells GROUP BY 1 ORDER BY bucket""",
    // The prose truth rebuilt closed-form from doc_id arithmetic
    // (DocxSource.docxExpected's exact lines) — the oracle never sees
    // a docx byte; only the kept-id list comes from the table.
    "docx_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            t AS (SELECT id,
                    'Title bold ' || (id % 7) || ' tail.' || chr(10) ||
                    'Amp & lt < café h-' || (id % 5) || '.' || chr(10) ||
                    'A' || (id % 5) || chr(9) || 'B' || (id % 3) || chr(10) ||
                      'C' || (id % 9) || chr(10) ||
                    'Page ' || (id % 4) || chr(10) ||
                    'Kept ' || (id % 6) || '.' || chr(10) ||
                    'Cell ' || (id % 8) AS text
                  FROM d)
          SELECT id % 7 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) * 6 AS BIGINT) AS para_sum,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY 1 ORDER BY bucket""",
    // The prose truth rebuilt closed-form from doc_id arithmetic
    // (OdtSource.odtExpected's exact lines — including the collapsed
    // raw-whitespace run and the explicit text:s spaces) — the oracle
    // never sees an odt byte.
    "odt_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            t AS (SELECT id,
                    'Doc ' || (id % 9) || ' heading tail.' || chr(10) ||
                    'Amp & lt < café h-' || (id % 5) || '.' || chr(10) ||
                    'A' || (id % 5) || chr(9) || 'B' || (id % 3) || chr(10) ||
                      'C' || (id % 9) || chr(10) ||
                    'Gap one   three collapsed ' || (id % 4) || '.' || chr(10) ||
                    'Kept ' || (id % 6) || '.' || chr(10) ||
                    'Styled ' || (id % 8) AS text
                  FROM d)
          SELECT id % 7 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) * 6 AS BIGINT) AS para_sum,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY 1 ORDER BY bucket""",
    // The cell truth rebuilt closed-form from doc_id arithmetic
    // (OdsSource.odsExpected's exact cells — grid positions INCLUDE
    // the repeat/covered-cell advances, so a repeat slip mis-addresses
    // a cell and breaks the checksum) — the oracle never sees an ods
    // byte.
    "ods_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            cells AS (
              SELECT id, 1 AS r, 1 AS c, 'text' AS kind,
                     'Name & ' || (id % 7) AS value FROM d
              UNION ALL SELECT id, 1, 2, 'num', (id % 9) || '.25' FROM d
              UNION ALL SELECT id, 1, 5, 'bool', CAST(1 - id % 2 AS VARCHAR) FROM d
              UNION ALL SELECT id, 1, 6, 'date', '2026-01-0' || (1 + id % 9) FROM d
              UNION ALL SELECT id, 2, 1, 'text', 'Dup ' || (id % 5) FROM d
              UNION ALL SELECT id, 2, 3, 'num', (id % 4) || '.50' FROM d
              UNION ALL SELECT id, 3, 1, 'text', 'Dup ' || (id % 5) FROM d
              UNION ALL SELECT id, 3, 3, 'num', (id % 4) || '.50' FROM d
              UNION ALL SELECT id, 4, 1, 'text', 'Merged ' || (id % 6) FROM d
              UNION ALL SELECT id, 4, 4, 'num', (id % 8) || '.75' FROM d)
          SELECT id % 7 AS bucket,
                 CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) AS BIGINT) AS n_cells,
                 CAST(SUM(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT) AS n_text,
                 CAST(SUM(CASE WHEN kind = 'num'
                   THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS num_cents,
                 CAST(SUM(CASE WHEN kind = 'bool' THEN CAST(value AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS bool_sum,
                 CAST(SUM(CASE WHEN kind IN ('text', 'date') THEN ${graft.functions.PortableHash.h60pSql(
                   "id || ':' || r || ':' || c || ':' || md5(value)")} ELSE 0 END) AS BIGINT) AS text_checksum
          FROM cells GROUP BY 1 ORDER BY bucket""",
    // The prose truth rebuilt closed-form from doc_id arithmetic
    // (RtfSource.rtfExpected's exact lines — including the delimiter-
    // space, cp1252, \uN-fallback and field-result rules) — the oracle
    // never sees an rtf byte.
    "rtf_extract" ->
      s"""WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 101 = 0),
            t AS (SELECT id,
                    'Title ' || (id % 7) || ' and tail ' || (id % 5) || '.' || chr(10) ||
                    'Café em—dash ée €X.' || chr(10) ||
                    'A' || (id % 5) || chr(9) || 'B' || (id % 3) || chr(10) ||
                      'C' || (id % 9) || chr(10) ||
                    'Page ' || (id % 4) || ' of doc.' || chr(10) ||
                    'Brace {x} and nb space ' || (id % 6) || '.' || chr(10) ||
                    'Last ' || (id % 8) AS text
                  FROM d)
          SELECT id % 7 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) * 6 AS BIGINT) AS para_sum,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY 1 ORDER BY bucket""",
    // The extracted-text truth rebuilt closed-form from doc_id
    // arithmetic (TexSource.texExpected's exact lines) — the oracle
    // never sees a TeX byte.
    "tex_extract" ->
      s"""WITH d AS (SELECT doc_id AS id, source FROM documents),
            t AS (SELECT id, source,
                    'Intro ' || (id % 9) || chr(10) ||
                    'Plain text ' || (id * 7) || ' with bold ' || (id % 5) ||
                      ' and math inline.' || chr(10) ||
                    'Escaped 100% and A_B and braces {x}.' || chr(10) ||
                    'Display tail .' || chr(10) ||
                    'Broken' || chr(10) ||
                    'line ' || (id % 6) || ' and cafe con leche.' || chr(10) ||
                    'item one ' || (id % 3) || chr(10) ||
                    'item two plus' || chr(10) ||
                    'Final line ' || (id % 4) || ' ends.' AS text
                  FROM d)
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(COUNT(*) * 9 AS BIGINT) AS line_sum,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "id || ':' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY source ORDER BY source""",
    // DuckDB's INDEPENDENT JSON parse of the same staged notebook bytes
    // — cell list via json_transform, subscripts zipped with unnest.
    "ipynb_extract" ->
      s"""WITH f AS (SELECT filename, content
                     FROM read_text('${ipynbStage(dataDir)}/*.ipynb')),
            nb AS (SELECT
                     CAST(regexp_extract(filename, 'nb(\\d+)\\.ipynb', 1) AS BIGINT) AS nb_id,
                     json_extract_string(content, '$$.metadata.kernelspec.language') AS language,
                     json_transform(json_extract(content, '$$.cells'),
                       '[{"cell_type":"VARCHAR","source":["VARCHAR"],"outputs":[{"output_type":"VARCHAR"}]}]') AS cells
                   FROM f),
            c AS (SELECT nb_id, language,
                         generate_subscripts(cells, 1) - 1 AS cell_idx,
                         unnest(cells) AS cell
                  FROM nb),
            e AS (SELECT nb_id, language, cell_idx,
                         cell.cell_type AS ct,
                         array_to_string(cell.source, '') AS src,
                         COALESCE(len(cell.outputs), 0) AS n_out
                  FROM c)
          SELECT language,
                 CAST(COUNT(DISTINCT nb_id) AS BIGINT) AS n_notebooks,
                 CAST(SUM(CASE WHEN ct = 'code' THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
                 CAST(SUM(CASE WHEN ct = 'markdown' THEN 1 ELSE 0 END) AS BIGINT) AS n_md,
                 CAST(SUM(CASE WHEN ct = 'code' THEN length(src) ELSE 0 END) AS BIGINT) AS code_chars,
                 CAST(SUM(n_out) AS BIGINT) AS n_outputs_stripped,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql(
                   "nb_id || ':' || cell_idx || ':' || md5(src)")}) AS BIGINT) AS src_checksum
          FROM e GROUP BY 1 ORDER BY language""",
    // Same response model as warc_ingest; n_seek_ok = n_responses is
    // the oracle's claim that EVERY indexed slice re-parses (the Spark
    // side earns it per record via the slice re-parse + tiling check).
    "warc_cdx_index" ->
      s"""WITH shards AS (SELECT unnest(range(24)) AS f),
            resp AS (SELECT f, unnest(range(5 + (f % 4))) AS i FROM shards),
            m AS (SELECT f, i,
                         'http://site' || (f % 6) || '.example/f' || f || '/p' || i AS uri,
                         CASE WHEN i % 3 = 0
                              THEN 'WARC/1.0' || chr(13) || chr(10) ||
                                   'X: decoy' || chr(13) || chr(10)
                              ELSE '' END ||
                         repeat('x', 40 + ((f * 31 + i * 7) % 100)) AS payload
                  FROM resp),
            p AS (SELECT 'site' || (f % 6) AS site,
                         CAST(2 + 2 * i AS BIGINT) AS idx,
                         CAST(length(payload) AS BIGINT) AS len,
                         uri || '|' || md5(payload) AS keyed
                  FROM m)
          SELECT site, CAST(COUNT(*) AS BIGINT) AS n_responses,
                 CAST(COUNT(*) AS BIGINT) AS n_seek_ok,
                 CAST(SUM(len) AS BIGINT) AS payload_bytes,
                 CAST(SUM(idx * len) AS BIGINT) AS moment,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql("keyed")}) AS BIGINT) AS checksum
          FROM p GROUP BY 1 ORDER BY site""",
    "tar_ingest" -> tarIngestSql,
    // Identical model on purpose: gunzip-then-walk must be a byte
    // identity over the plain shards.
    "tgz_ingest" -> tarIngestSql,
    // Dir-independent like tar_ingest: the oracle regenerates
    // ZipSource's closed-form payload model (12 shards; member i of
    // shard f = decoy ++ 'abc'×n, stored/deflated by parity, descriptor
    // members at i%4==1). Only DECOMPRESSED identities appear — names,
    // true sizes, md5s — so stored and deflated members must both
    // round-trip bit-exactly through the walk, and the planted orphan
    // local entry must stay invisible (it would shift every count,
    // moment and checksum).
    "zip_ingest" ->
      s"""WITH shards AS (SELECT unnest(range(12)) AS f),
            samp AS (SELECT f, unnest(range(4 + (f % 3))) AS i FROM shards),
            m AS (SELECT f, i, f * 100 + i AS k,
                         CASE WHEN i % 3 = 0 THEN 'PK' || chr(3) || chr(4) ELSE '' END AS dcy,
                         200 + (f * 37 + i * 13) % 500 AS n
                  FROM samp),
            ent AS (SELECT 's' || (f % 4) AS site, i,
                           'm' || k || '.txt' AS name,
                           CASE WHEN i % 2 = 0 THEN 0 ELSE 8 END AS method,
                           CASE WHEN i % 4 = 1 THEN 1 ELSE 0 END AS streamed,
                           CAST(length(dcy) + 3 * n AS BIGINT) AS usize,
                           md5(dcy || repeat('abc', CAST(n AS INT))) AS h
                    FROM m)
          SELECT site, CAST(COUNT(*) AS BIGINT) AS n_members,
                 CAST(SUM(CASE WHEN method = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_stored,
                 CAST(SUM(CASE WHEN method = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_deflated,
                 CAST(SUM(streamed) AS BIGINT) AS n_streamed,
                 CAST(SUM(usize) AS BIGINT) AS usize_sum,
                 CAST(SUM(i * usize) AS BIGINT) AS moment,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql("name || '|' || h")}) AS BIGINT) AS checksum
          FROM ent GROUP BY 1 ORDER BY site""",
    // Dir-independent like warc_ingest: the oracle regenerates the HTTP
    // fixture model (12 shards × 6+(f%3) responses; body = "tok "×T with
    // the trailing space trimmed → length 4T−1, tokens T). Chunked rows
    // (i%3=1) de-chunk to the SAME body, so every body column holds for
    // them too — the chunked path must reproduce identity extraction
    // bit-for-bit; n_chunked counts exactly those rows.
    "warc_http_extract" ->
      s"""WITH shards AS (SELECT unnest(range(12)) AS f),
            resp AS (SELECT f, unnest(range(6 + (f % 3))) AS i FROM shards),
            m AS (SELECT f, i,
                         'http://h' || (f % 5) || '.example/f' || f || '/r' || i AS uri,
                         CASE WHEN i % 5 = 4 THEN 404 ELSE 200 END AS status,
                         CASE WHEN i % 2 = 0 THEN 'text/html' ELSE 'text/plain' END AS mt,
                         CASE WHEN i % 3 = 1 THEN 1 ELSE 0 END AS chk,
                         5 + (f * 7 + i * 11) % 50 AS t
                  FROM resp),
            p AS (SELECT 'h' || (f % 5) AS site, status, mt, chk,
                         CAST(4 * t - 1 AS BIGINT) AS blen,
                         CAST(t AS BIGINT) AS toks,
                         uri || '|' || md5(rtrim(repeat('tok ', CAST(t AS INT)))) AS keyed
                  FROM m)
          SELECT site, CAST(COUNT(*) AS BIGINT) AS n_responses,
                 CAST(SUM(CASE WHEN status = 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
                 CAST(SUM(CASE WHEN mt = 'text/html' THEN 1 ELSE 0 END) AS BIGINT) AS n_html,
                 CAST(SUM(chk) AS BIGINT) AS n_chunked,
                 CAST(SUM(blen) AS BIGINT) AS body_bytes,
                 CAST(SUM(toks) AS BIGINT) AS token_sum,
                 CAST(SUM(CASE WHEN status = 200
                          THEN ${graft.functions.PortableHash.h60pSql("keyed")}
                          ELSE 0 END) AS BIGINT) AS ok_checksum
          FROM p GROUP BY 1 ORDER BY site""",

    // Regenerates the closed-form charset fixture model: the DECODED
    // Unicode text per (shard, case) rebuilt from the same base strings
    // (UTF-8 literals here — DuckDB strings are UTF-8, so md5 runs over
    // the identical bytes Spark hashes, and length() counts the same
    // code points).
    "warc_charset_extract" ->
      s"""WITH shards AS (SELECT unnest(range(8)) AS f),
            resp AS (SELECT f, unnest(range(7)) AS i FROM shards),
            c AS (SELECT f, i,
                         'http://cs.example/f' || f || '/c' || i AS uri,
                         CASE i WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
                                WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'shift_jis'
                                WHEN 4 THEN '' WHEN 5 THEN 'utf-8'
                                ELSE 'x-graft-bogus' END AS declared,
                         CASE i WHEN 1 THEN 'windows-1252' WHEN 2 THEN 'iso-8859-1'
                                WHEN 3 THEN 'shift_jis' WHEN 4 THEN 'windows-1252'
                                ELSE 'utf-8' END AS used,
                         CASE i WHEN 0 THEN 'café €0' WHEN 1 THEN 'café €1'
                                WHEN 2 THEN 'caß é2' WHEN 3 THEN '日本語3'
                                WHEN 4 THEN 'café4' WHEN 5 THEN 'naïve5'
                                ELSE 'héllo6' END AS base,
                         1 + (f + i) % 4 AS n
                  FROM resp),
            t AS (SELECT i, declared, used, uri,
                         repeat(base || ' ', CAST(n AS INT)) || 'x' || f || '_' || i AS text
                  FROM c)
          SELECT CAST(i AS INT) AS case_id,
                 MIN(declared) AS declared_charset,
                 MIN(used) AS used_charset,
                 CAST(COUNT(*) AS BIGINT) AS n_responses,
                 CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                 CAST(SUM(${graft.functions.PortableHash.h60pSql("uri || '|' || md5(text)")}) AS BIGINT) AS text_checksum
          FROM t GROUP BY 1 ORDER BY case_id""",
    // DuckDB's own parquet_metadata() over the SAME staged files Spark's
    // parquet-hadoop footer scan read — two independent parquet
    // implementations must agree on every footer field.
    "parquet_footer_audit" ->
      s"""SELECT path_in_schema AS column_name,
                 CAST(COUNT(*) AS BIGINT) AS n_chunks,
                 CAST(SUM(num_values) AS BIGINT) AS values_sum,
                 CAST(SUM(total_compressed_size) AS BIGINT) AS compressed_sum,
                 MIN(lower(compression)) AS codec,
                 CAST(COALESCE(MIN(CASE WHEN path_in_schema = 'doc_id'
                       THEN CAST(stats_min_value AS BIGINT) END), -1) AS BIGINT) AS min_id,
                 CAST(COALESCE(MAX(CASE WHEN path_in_schema = 'doc_id'
                       THEN CAST(stats_max_value AS BIGINT) END), -1) AS BIGINT) AS max_id
          FROM parquet_metadata('${pqAuditStage(dataDir)}/*.parquet')
          GROUP BY 1 ORDER BY column_name""",
    "csv_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         FROM read_csv('${csvStage(dataDir)}/*.csv', header = true)
         GROUP BY lang ORDER BY lang""",
    // DuckDB's own RFC 4180 parser over the SAME staged bytes — the
    // two-independent-implementations gate.
    "csv_multiline_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(length(payload)) AS BIGINT) AS payload_chars,
                CAST(SUM(${graft.functions.PortableHash.h60pSql(
                  "doc_id || ':' || md5(payload)")}) AS BIGINT) AS payload_checksum
         FROM read_csv('${csvMlStage(dataDir)}/*.csv', header = true)
         GROUP BY lang ORDER BY lang""",
    "jsonl_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                CAST(MAX(n_chars) AS BIGINT) AS max_chars
         FROM read_json('${jsonlStage(dataDir)}/*.json', format = 'newline_delimited')
         GROUP BY lang ORDER BY lang""",
    "csv_gz_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         FROM read_csv('${csvGzStage(dataDir)}/*.csv.gz', header = true)
         GROUP BY lang ORDER BY lang""",
    "jsonl_gz_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                CAST(MAX(n_chars) AS BIGINT) AS max_chars
         FROM read_json('${jsonlGzStage(dataDir)}/*.json.gz', format = 'newline_delimited')
         GROUP BY lang ORDER BY lang""",
    "jsonl_zst_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                CAST(MAX(n_chars) AS BIGINT) AS max_chars
         FROM read_json('${jsonlZstStage(dataDir)}/*.json.zst', format = 'newline_delimited')
         GROUP BY lang ORDER BY lang""",
    "parquet_zstd_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
         FROM read_parquet('${pqZstdStage(dataDir)}/*.parquet')
         GROUP BY lang ORDER BY lang""",
    // ORC oracles recompute from the SOURCE documents table (DuckDB has
    // no ORC reader): same rows the staged ORC was written from, so the
    // per-row checksum pins the write→read chain's content exactly.
    "orc_roundtrip" ->
      docsAuditSql,
    "orc_hive_roundtrip" ->
      s"""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(MIN(doc_id) AS BIGINT) AS first_doc,
                CAST(SUM(${graft.functions.PortableHash.h60pSql(
                  "CAST(doc_id AS VARCHAR) || '|' || CAST(n_chars AS VARCHAR)")}) AS BIGINT) AS checksum
         FROM documents WHERE lang <> 'en'
         GROUP BY lang, source ORDER BY lang, source""",
    // bz2 / Avro oracles recompute from the SOURCE documents table
    // (DuckDB reads neither) — same closed-form discipline as the ORC rows.
    "jsonl_bz2_roundtrip" ->
      docsAuditSql,
    "avro_roundtrip" ->
      docsAuditSql,
    // live ≡ batch on purpose: the streaming arrival must decode to the
    // identical row set.
    "avro_ingest_live" ->
      docsAuditSql,
    "avro_evolution" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(COUNT(*) AS BIGINT) AS n_defaulted,
                CAST(SUM(${graft.functions.PortableHash.h60pSql(
                  "CAST(doc_id AS VARCHAR) || '|' || CAST(n_chars AS VARCHAR)")}) AS BIGINT) AS checksum
         FROM documents GROUP BY lang ORDER BY lang""",
    "parquet_hive_roundtrip" ->
      s"""SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n_chars) AS BIGINT) AS chars,
                CAST(MIN(doc_id) AS BIGINT) AS first_doc
         FROM read_parquet('${pqHiveStage(dataDir)}/*/*.parquet', hive_partitioning = true)
         WHERE lang <> 'en'
         GROUP BY lang, source ORDER BY lang, source""",
    "parquet_evolution_roundtrip" ->
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS chars,
                CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_old_schema
         FROM read_parquet(['${pqEvoStage(dataDir)}/v1/*.parquet',
                            '${pqEvoStage(dataDir)}/v2/*.parquet'],
                           union_by_name = true)
         GROUP BY lang ORDER BY lang""",
    "jsonl_corrupt_audit" ->
      s"""WITH lines AS (SELECT unnest(string_split(content, chr(10))) AS line
                         FROM read_text('${jsonlBadStage(dataDir)}/*.txt')),
            nn AS (SELECT line FROM lines WHERE line <> ''),
            cls AS (SELECT line, json_valid(line) AS ok FROM nn)
         SELECT CASE WHEN ok THEN line->>'$$.lang' ELSE '__corrupt' END AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n_lines,
                CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
                CAST(SUM(CASE WHEN ok THEN CAST(line->>'$$.n_chars' AS BIGINT) ELSE 0 END) AS BIGINT) AS chars
         FROM cls GROUP BY 1 ORDER BY 1""",

    // The decoded page-text model replayed closed-form from doc_id
    // arithmetic — the oracle never sees a PDF byte, so xref walking,
    // the incremental-update override, indirect lengths, string escapes
    // (octal \101 = 'A'), hex strings, TJ concatenation and the Td line
    // logic must all be re-derived correctly for the md5s to land.
    "pdf_extract" ->
      s"""WITH d AS (SELECT doc_id AS id, source FROM documents),
            pg AS (SELECT id, source, p.range AS p
                   FROM d, range(2) p WHERE p.range < 1 + id % 2),
            t AS (SELECT id, source, p,
                         CASE WHEN p = 0 AND id % 7 = 0 THEN 5 ELSE 6 END AS ops,
                         'Doc ' || id || ' page ' || p || chr(10) ||
                         CASE WHEN p = 0 AND id % 7 = 0
                              THEN 'revised ' || (id * 7) || ' r2'
                              ELSE 'the quick data point ' || (id * 7 + p) || ' cont' END
                           || chr(10) ||
                         'segment ' || (id % 9) || chr(10) ||
                         'esc (' || (id % 5) || ') A (nested 9 0 obj) end' || chr(10) ||
                         'hex' || (id % 3) AS text
                  FROM pg)
         SELECT source, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_pages,
                CAST(SUM(ops) AS BIGINT) AS ops_sum,
                CAST(SUM(length(text)) AS BIGINT) AS char_sum,
                CAST(SUM(${graft.functions.PortableHash.h60pSql(
                  "id || ':' || p || ':' || md5(text)")}) AS BIGINT) AS text_checksum
         FROM t GROUP BY source ORDER BY source"""
  )

  val oracleSql: Map[String, String] = oracleSqlFor(Stage.GateDir)
}
