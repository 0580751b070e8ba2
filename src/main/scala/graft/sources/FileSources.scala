package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File sources/sinks (SURVEY.md §2.2 A).
  *
  * A1 (directory scan — parse_input, FileWordCounter.cpp:189-226) and A2
  * (whole-file read — loadFile, :139-147) map to Spark's FileIndex +
  * `wholetext` mode: one row per regular file, (path, content). The
  * reference's S_ISREG filter (:218) is Spark's file-index behavior
  * (directories are recursed/listed, non-files skipped). A3/A4 (in-memory
  * source/sink) are `createDataset`/`collect` — exercised by the
  * MapReduceJob facade tests. CSV/JSON/parquet are builtins surfaced here
  * for completeness.
  *
  * Scale: `wholetext` makes one task per file (a file must fit in one
  * task's memory — same contract as the reference's loadFile, but
  * distributed across executors instead of one heap). Line-oriented
  * `textLines` splits large files by `maxPartitionBytes` instead.
  */
object FileSources {

  /** One row per file: (path, content).
    *
    * Two classes of regular file never come back from Spark's text
    * source, both caught by the round-9 randomized-directory property
    * test against the reference's read-every-regular-file contract
    * (parse_input's S_ISREG filter, FileWordCounter.cpp:218, and
    * loadFile, :139-147):
    *  - 0-byte files: no row at all, where loadFile yields `""` — whose
    *    quirk-tokenization is one empty token, an observable output;
    *  - `_`/`.`-prefixed files: the file index drops them as metadata
    *    even when the path is passed EXPLICITLY ("All paths were
    *    ignored"), where readdir+S_ISREG happily includes them.
    * Empty files are always restored from the directory listing (the
    * same driver-side metadata pass the FileIndex already runs; only
    * zero-length files ride the unioned frame). Hidden files are opt-in
    * (`includeHidden`) because Spark's visibility rule is the right
    * default for a lake directory — [[directoryWordCount]] opts in for
    * strict reference parity; their CONTENT is read distributed via
    * [[readWholeFiles]], never on the driver. */
  def wholeTextDir(spark: SparkSession, dir: String,
                   includeHidden: Boolean = false): DataFrame = {
    // Canonical path spelling (round-9 ADVICE): local-file URIs have an
    // EMPTY authority, which different producers spell differently —
    // input_file_name() and FileStatus.getPath.toUri may disagree
    // ('file:/p' vs 'file:///p' varies by code path and version) — so
    // consumers joining/grouping on the path column across legs could
    // silently mis-group. EVERY leg is normalized through the same rule
    // (any 'file:/+' prefix → 'file:///'); URIs with a real authority
    // (hdfs://host/p, s3a://bucket/p) are untouched because the pattern
    // is anchored to the file scheme.
    def canon(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^file:/+", "file:///")
    val scanned = spark.read.option("wholetext", "true").text(dir)
      .select(canon(input_file_name()).as("path"), col("value").as("content"))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def isHidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val listed = fs.listStatus(p).filter(_.isFile)
    val empties = listed
      .filter(s => s.getLen == 0 && (includeHidden || !isHidden(s.getPath.getName)))
      .map(_.getPath.toUri.toString)
    val hidden = if (includeHidden)
      listed.filter(s => s.getLen > 0 && isHidden(s.getPath.getName))
        .map(_.getPath.toUri.toString)
    else Array.empty[String]
    import spark.implicits._
    var out = scanned
    if (empties.nonEmpty)
      out = out.unionByName(
        empties.toSeq.toDF("path").select(canon(col("path")).as("path"), lit("").as("content")))
    if (hidden.nonEmpty) out = out.unionByName(
      readWholeFiles(spark, hidden.toSeq)
        .select(canon(col("path")).as("path"), col("content")))
    out
  }

  /** Distributed whole-file read of EXPLICIT paths, for files the
    * built-in source refuses (it drops `_`/`.`-prefixed names even when
    * listed explicitly). Each task opens its paths through the Hadoop
    * FileSystem API — the same IO layer the built-in scan uses, so
    * s3a/hdfs/local all work — and decodes UTF-8 like `wholetext`
    * (LOSSY: malformed byte sequences become U+FFFD — String's documented
    * replacement behavior; byte-exact consumers use
    * [[readWholeFilesBytes]]).
    * Scale: one row per file, `paths.size`-bounded parallelism, content
    * never touches the driver; same per-file-fits-in-a-task contract as
    * `wholetext` itself. */
  def readWholeFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    // new String(_, UTF_8) replaces malformed sequences with U+FFFD (the
    // lossy contract above); Spark's decode() expression instead THROWS
    // on malformed bytes in Spark 4, so the decode stays in typed code.
    readWholeFilesBytes(spark, paths).as[(String, Array[Byte])]
      .map { case (p, b) => (p, new String(b, java.nio.charset.StandardCharsets.UTF_8)) }
      .toDF("path", "content")
  }

  /** [[readWholeFiles]] without the UTF-8 decode: (path, content: binary),
    * byte-for-byte what the file holds — the reference's `loadFile` is
    * byte-oblivious (FileWordCounter.cpp:139-147 reads into a std::string
    * with no charset), so byte-exact parity paths (e.g.
    * [[directoryWordCountRaw]]) must carry raw bytes.
    *
    * Path resolution contract (round-9 ADVICE — the old URI-first rule
    * silently decoded a file literally named 'a%20b.txt' into 'a b.txt'):
    * RAW interpretation wins when such a file exists, so
    * legal-but-URI-significant characters ('%', '#') in a real filename
    * are never decoded away; the URI parse is the fallback for encoded
    * spellings — which is safe for LISTING-produced spellings, because an
    * encoded listing spelling's literal interpretation never exists on
    * disk (toUri.toString percent-encodes '%' itself to %25). Costs one
    * extra existence probe per file, amortized inside the task that reads
    * the file anyway.
    *
    * Caveat for CALLER-CONSTRUCTED encoded URIs (round-10 ADVICE): if a
    * caller hands in '.../a%20b.txt' MEANING 'a b.txt' while a file
    * literally named 'a%20b.txt' also exists, raw-first resolution reads
    * the literal file — the spelling is genuinely ambiguous and raw wins
    * by contract. Callers holding known-encoded URIs should decode them
    * to raw paths themselves before calling (listing-derived paths, the
    * normal case, are unaffected).
    *
    * `missingAsEmpty = true` replicates the reference's ignored-open-error
    * contract (loadFile's unchecked `is_open`, cpp:141: an unreadable file
    * contributes empty content, silently) — parity callers only; the
    * default fails the task like any lake source would. */
  def readWholeFilesBytes(spark: SparkSession, paths: Seq[String],
                          missingAsEmpty: Boolean = false): DataFrame = {
    import spark.implicits._
    val confSer = new org.apache.spark.SerializableWritable(
      new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration))
    val slices = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(paths).repartition(slices)
      .mapPartitions { it =>
        it.map { pathStr =>
          def read(path: org.apache.hadoop.fs.Path): Option[Array[Byte]] = {
            val fs = path.getFileSystem(confSer.value)
            val len =
              try fs.getFileStatus(path).getLen
              catch { case _: java.io.FileNotFoundException => return None }
            require(len <= Int.MaxValue,
              s"$pathStr exceeds the one-record limit ($len bytes)")
            val buf = new Array[Byte](len.toInt)
            val in = fs.open(path)
            try in.readFully(0, buf) finally in.close()
            Some(buf)
          }
          val raw =
            try read(new org.apache.hadoop.fs.Path(pathStr))
            catch { case _: IllegalArgumentException => None } // not path-shaped
          val bytes = raw.orElse {
            try read(new org.apache.hadoop.fs.Path(new java.net.URI(pathStr)))
            catch {
              case _: java.net.URISyntaxException => None
              case _: IllegalArgumentException => None
            }
          }
          bytes match {
            case Some(b) => (pathStr, b)
            case None if missingAsEmpty => (pathStr, Array.emptyByteArray)
            case None => throw new java.io.FileNotFoundException(
              s"$pathStr (tried raw path, then URI decode)")
          }
        }
      }
      .toDF("path", "content")
  }

  /** Whole-file parse of explicit `paths`: each file is read whole in a
    * task ([[readWholeFilesBytes]]) and `parse(path, basename, bytes)`
    * turns it into rows. */
  private def parsedFiles[T: Encoder](spark: SparkSession, paths: Seq[String])(
      parse: (String, String, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    import spark.implicits._
    readWholeFilesBytes(spark, paths).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        parse(path, path.substring(path.lastIndexOf('/') + 1), bytes)
      }
  }

  /** [[parsedFiles]] over a per-document fixture dir: every
    * `<prefix><id><ext>` file ([[graft.Stage.keptDocs]]'s layout), in
    * name order, parsed by `parse(id, basename, bytes)` — map-only, one
    * task per file. */
  private[graft] def docFiles[T: Encoder](spark: SparkSession, dir: String,
      prefix: String, ext: String)(
      parse: (Long, String, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    val paths = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.startsWith(prefix) && f.getName.endsWith(ext))
      .map(_.getPath).sorted.toSeq
    parsedFiles(spark, paths) { (_, name, bytes) =>
      parse(name.substring(prefix.length, name.lastIndexOf('.')).toLong, name, bytes)
    }
  }

  /** How a framed-shard format words its loud failure: "<path>: <damage>
    * after <n> <unit> (<causes>; pass tolerateUnclean=true to salvage)". */
  private[sources] final case class Unclean(damage: String, unit: String, causes: String)

  /** Distributed reader over framed shards (WARC, CDX, tar, zip): one
    * task per shard, read whole, and `emit(basename, bytes)` walks it
    * once, reporting (rows, cleanEof). An unclean shard (bytes that do
    * not frame) FAILS the read loudly: a silently short-read shard is a
    * data-loss bug, not a row to drop. `tolerateUnclean = true` keeps the
    * parsed prefix instead (the salvage mode a backfill over damaged
    * shards wants). */
  private[sources] def framedShards[T: Encoder](spark: SparkSession,
      paths: Seq[String], tolerateUnclean: Boolean, unclean: Unclean)(
      emit: (String, Array[Byte]) => (Seq[T], Boolean)): Dataset[T] =
    parsedFiles(spark, paths) { (path, name, bytes) =>
      val (out, clean) = emit(name, bytes)
      if (!clean && !tolerateUnclean)
        throw new IllegalArgumentException(
          s"$path: ${unclean.damage} after ${out.size} ${unclean.unit} " +
          s"(${unclean.causes}; pass tolerateUnclean=true to salvage)")
      out
    }

  /** One row per line: (path, line) — the scalable variant for big files. */
  def textLines(spark: SparkSession, dir: String): DataFrame =
    spark.read.text(dir)
      .select(input_file_name().as("path"), col("value").as("line"))

  def csv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true").csv(path)

  /** CSV with RFC 4180 quoted fields that may span LINES (embedded
    * newlines, escaped "" quotes, commas): Spark's default reader splits
    * records on raw newlines BEFORE parsing quotes (fast, splittable —
    * and silently corrupts multiline rows into extra records); the
    * `multiLine` option switches to a whole-file parse per file. That is
    * the real trade: multiline CSV files are NOT splittable — one task
    * per file — so at 100 TB the answer is many medium files (or a
    * saner format), never one giant multiline CSV. */
  def csvMultiline(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true")
      .option("multiLine", "true").option("escape", "\"").csv(path)

  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** ORC source/sink — the other columnar lake format Spark ships with;
    * same pushdown/pruning machinery as parquet (asserted in the spec). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Delete `path` and everything under it; a missing path is a no-op. */
  def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  /** Bucketed parquet table (bucketBy needs a catalog table name, not a
    * bare path): rows are pre-shuffled into `nBuckets` by hash of
    * `bucketCols` and sorted within each bucket. Joins and aggregations
    * on the bucket key then read co-located, pre-sorted data with NO
    * exchange — the 100 TB answer to a fact table joined on the same key
    * by every query: pay the shuffle once at write time
    * (BucketingSpec asserts the exchange-free join plan). */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int,
                    bucketCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    // Overwrite must be idempotent ACROSS processes: the in-memory
    // catalog forgets the table when the JVM exits but its warehouse
    // directory survives, and saveAsTable refuses to claim an existing
    // location (LOCATION_ALREADY_EXISTS). Drop whatever the catalog
    // knows, then clear any orphaned location a previous process left.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val whPath = Option(wh.getPath).getOrElse(wh.toString)
    rmTree(new java.io.File(whPath, table.toLowerCase(java.util.Locale.ROOT)).getPath)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Listing fingerprint of a source data directory: md5 over every
    * file's (relative path, length, mtime), walked in sorted order.
    * Costs one driver-side directory walk — no data scan — and changes
    * whenever the dir's contents are regenerated, which is exactly the
    * staleness case [[ensureBucketed]]'s schema check cannot see. */
  def dirFingerprint(dir: String): String =
    fingerprintOf(new java.io.File(dir), Seq(new java.io.File(dir)))

  /** [[dirFingerprint]] scoped to the files an index actually DERIVES
    * from: `dir/<t>.parquet` for each named table (a file or a
    * directory). Fingerprinting the whole source dir makes unrelated
    * activity under it — fixture staging subdirs, sibling tables being
    * rewritten — invalidate a maintained index that read none of those
    * bytes, forcing spurious rebuilds; and on a real lake the per-call
    * listing walk is O(total file count) instead of O(one table's
    * files). A table path that does not exist contributes its name with
    * a miss marker, so appearing/disappearing inputs still flip the
    * fingerprint. */
  def tableFingerprint(dir: String, tables: Seq[String]): String = {
    val root = new java.io.File(dir)
    fingerprintOf(root, tables.sorted.map(t => new java.io.File(root, s"$t.parquet")))
  }

  /** md5 over every file's (path relative to `root`, length, mtime),
    * walked in sorted order under each of `roots` — a driver-side
    * listing pass, no data scan. Changes whenever any covered file is
    * added, removed or regenerated, which is exactly the staleness case
    * [[ensureBucketed]]'s schema check cannot see. */
  private def fingerprintOf(root: java.io.File, roots: Seq[java.io.File]): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    roots.foreach { r =>
      if (!r.exists())
        md.update(s"${r.getName}|ABSENT\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      else walk(r).foreach { f =>
        val rel = root.toPath.relativize(f.toPath).toString
        md.update(s"$rel|${f.length}|${f.lastModified}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private val FingerprintProp = "graft.source.fingerprint"

  private def tableProp(spark: SparkSession, table: String,
                        key: String): Option[String] =
    spark.sql(s"SHOW TBLPROPERTIES `$table`").collect()
      .find(_.getString(0) == key).map(_.getString(1))

  /** [[writeBucketed]] with WITHIN-SESSION reuse: if this session's
    * catalog already holds `table` with a MATCHING schema AND (when the
    * caller supplies one) a MATCHING source fingerprint, the build is
    * skipped — the production contract of a maintained index table
    * (build once, amortize across probes). The schema check guards the
    * projection-mixup case (two callers reusing one prefix with
    * different projections of the same dir); the fingerprint —
    * [[dirFingerprint]] of the data dir, recorded as a table property
    * at build time — guards the regenerated-source case: if the dir's
    * contents change within a session, the stored property no longer
    * matches and the index rebuilds instead of silently serving stale
    * rows. Both checks are driver-side metadata only (no source
    * re-scan). Cross-process, the catalog starts empty and the first
    * call rebuilds — reuse never crosses a JVM. */
  def ensureBucketed(df: DataFrame, table: String, nBuckets: Int,
                     bucketCols: Seq[String],
                     fingerprint: Option[String] = None): Unit = {
    val spark = df.sparkSession
    // Names + types only: a parquet round-trip loosens nullability, so a
    // strict schema compare would spuriously rebuild on every reuse of a
    // non-nullable input frame.
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => (f.name, f.dataType))
    val fresh = !spark.catalog.tableExists(table) ||
      shape(spark.table(table).schema) != shape(df.schema) ||
      fingerprint.exists(fp => !tableProp(spark, table, FingerprintProp).contains(fp))
    if (fresh) {
      writeBucketed(df, table, nBuckets, bucketCols)
      fingerprint.foreach { fp =>
        spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES ('$FingerprintProp' = '$fp')")
        (): Unit
      }
    }
  }

  /** Append into a maintained bucketed table — the per-ingest write-back
    * of the production index loop (ingest batch → append its surviving
    * keys → next batch probes the UPDATED index). The bucket spec must
    * match the table's; Spark routes appended rows into the same bucket
    * files' layout, so probes stay exchange-free on the table side after
    * any number of appends (pinned in SkewAndBucketingSpec). */
  def appendBucketed(df: DataFrame, table: String, nBuckets: Int,
                     bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Collision-proof catalog name for a dir-derived index table:
    * `prefix` + the first 16 hex chars of md5(dir) — a 64-bit key, vs
    * the 32-bit String.hashCode previously used, whose collisions are
    * trivially constructible ("...Aa"/"...BB" pairs) and would make
    * [[ensureBucketed]] silently serve an index built from the WRONG
    * data dir. */
  def dirKeyedTable(prefix: String, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    prefix + "_" + md.substring(0, 16)
  }

  /** Z-ordered parquet write — the layout step q_zorder audits: Morton-
    * interleave the low 8 bits of two integer dimensions, range-partition
    * on the z-value (each output file owns a contiguous z-range) and
    * sort within partitions, so parquet row-group min/max stats are tight
    * on BOTH dimensions and a scan with a predicate on EITHER prunes
    * files. `nFiles` ≈ target file count (one per range partition). */
  def writeZOrdered(df: DataFrame, path: String, dimA: String, dimB: String,
                    nFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    require(!df.columns.contains("__graft_z"),
      "input already has a __graft_z column — rename it before a z-ordered write")
    df.withColumn("__graft_z", expr(graft.Portable.mortonInterleaveSql(dimA, dimB)))
      .repartitionByRange(nFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** The reference's complete example program (FileWordCounter.cpp main,
    * :234-286) as one call: scan a directory, word-count every file with
    * the quirk tokenizer, return (word, total) — here distributed and
    * sorted by key like the reference's reduce visit order.
    *
    * Strict loadFile parity (round-9 randomized-directory sweep):
    *  - hidden (`_`/`.`-prefixed) regular files ARE counted — readdir +
    *    S_ISREG (FileWordCounter.cpp:218) has no metadata-name rule;
    *  - content stops at the first NUL byte — loadFile reads with
    *    `getline(file, content, '\0')` (:143), so bytes past an embedded
    *    NUL are never tokenized (`substring_index` keeps the prefix, or
    *    the whole string when no NUL — codegen'd, no UDF).
    * Remaining known divergence, documented not replicated: non-UTF-8
    * bytes decode to U+FFFD here (Spark strings) where the reference
    * keeps raw bytes, and an unreadable file fails the Spark task where
    * the reference silently treats it as empty (loadFile's ignored
    * return, :93). */
  def directoryWordCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val input = wholeTextDirRef(spark, dir).as[(String, String)]
    graft.mr.MapReduceJob.run(input, graft.mr.FileWordCounter.client, sortedByKey = true)
      .toDF("word", "count")
  }

  /** BYTE-EXACT reference parity word count (round-9 verdict #7 — the
    * last documented `loadFile` divergence): where [[directoryWordCount]]
    * decodes UTF-8 (lossy on malformed bytes) because its oracle speaks
    * strings, this variant never decodes at all. It replicates the
    * reference program on raw bytes end to end:
    *  - readdir + S_ISREG (cpp:218): ALL regular files, hidden included —
    *    a driver-side listing (the same metadata pass every FileIndex
    *    runs), contents read distributed;
    *  - loadFile (cpp:139-147): whole file as bytes, stopped at the first
    *    NUL (`getline(file, content, '\0')`), an unreadable file silently
    *    contributing empty content (the ignored `is_open`, cpp:141);
    *  - the quirk tokenizer on BYTES (0x20 split, empty tokens kept);
    *  - reduce visit order = std::map's unsigned-char lexicographic order
    *    ≡ Spark's binary ordering.
    * Returns (word: binary, count) — byte-identical to the reference on
    * ANY byte content, property-tested against a sequential fold over
    * random byte files (FileSourcesSpec). */
  def directoryWordCountRaw(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).filter(_.isFile).map(_.getPath.toUri.toString).toSeq
    readWholeFilesBytes(spark, files, missingAsEmpty = true)
      .as[(String, Array[Byte])]
      .flatMap { case (_, content) =>
        graft.mr.FileWordCounter.tokenizeQuirkBytes(content.takeWhile(_ != 0))
      }
      .toDF("word")
      .groupBy("word").agg(count(lit(1)).cast("int").as("count"))
      .orderBy("word")
  }

  /** (path, content) over a directory with STRICT reference-loadFile
    * parity (see [[directoryWordCount]]'s contract notes): hidden files
    * included, content truncated at the first NUL byte. The shared ingest
    * behind both the word-count port and the emit-style adapter's
    * parity property test. */
  def wholeTextDirRef(spark: SparkSession, dir: String): DataFrame =
    wholeTextDir(spark, dir, includeHidden = true)
      .select(col("path"),
        substring_index(col("content"), Nul, 1).as("content"))

  /** The NUL-byte string, built without a source-level escape. */
  private val Nul: String = 0.toChar.toString
}
