package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** WARC (Web ARChive, ISO 28500 / WARC-1.0) record reader — the arrival
  * format of real web-scale LLM corpora (Common Crawl ships WARC shards).
  * The reference engine ingests plain text directories
  * (FileWordCounter.cpp:189-226); this is the source format its users hit
  * the moment the corpus comes from a crawl instead of a local folder.
  *
  * Format essentials (from the public WARC 1.0 spec): a WARC file is a
  * sequence of records, each
  *
  *   WARC/1.0\r\n
  *   <header-name>: <value>\r\n   (repeated; incl. WARC-Type,
  *   ...                           WARC-Target-URI, Content-Length)
  *   \r\n
  *   <Content-Length bytes of payload>
  *   \r\n\r\n
  *
  * The load-bearing rule is CONTENT-LENGTH FRAMING: payloads are opaque
  * bytes and may legally CONTAIN "WARC/1.0" lines (a response body that
  * quotes a WARC record, a crawler crawling an archive). A parser that
  * scans for the magic instead of honoring Content-Length splits such
  * records in half — the staged gate fixture plants exactly that decoy.
  *
  * Scale shape: one task per WARC shard (the Common Crawl layout is many
  * ~1 GB shard files — same non-splittable story as the gzip round-trips),
  * parse is a single forward pass per shard, and everything downstream of
  * [[records]] is ordinary codegen'd DataFrame ops.
  */
object WarcSource {

  /** One parsed record: file ordinal index (0-based, ALL record types
    * count — pins the full record sequence), type, target URI ("" when
    * absent, e.g. warcinfo), payload length and payload md5 hex. */
  case class WarcRecord(file: String, idx: Int, rec_type: String,
                        uri: String, payload_len: Long, payload_md5: String)

  private val Crlf = "\r\n".getBytes("US-ASCII")

  /** Parse one WARC file. Returns the records parsed by strict
    * Content-Length framing plus a clean-EOF flag: `false` means trailing
    * bytes could not be framed as a record (truncation or corruption) —
    * everything before the damage is still returned. */
  def parseWarc(fileName: String, bytes: Array[Byte]): (Seq[WarcRecord], Boolean) = {
    val out = Seq.newBuilder[WarcRecord]
    val clean = walkWarc(bytes) { (idx, recType, uri, _, payOff, payLen) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(java.util.Arrays.copyOfRange(bytes, payOff, payOff + payLen))
        .map("%02x".format(_)).mkString
      out += WarcRecord(fileName, idx, recType, uri, payLen.toLong, md)
    }
    (out.result(), clean)
  }

  /** One CDX-style index row — the Common Crawl seekability artifact:
    * `rec_offset`/`rec_length` address the WHOLE record (header +
    * payload + terminator) inside its shard, so a consumer can range-
    * request one record without reading the shard. `seek_ok` is the
    * built-in audit: the indexed slice was re-parsed in isolation and
    * reproduced exactly this record (type, uri, payload md5) — a wrong
    * offset or length cannot produce a true value. */
  case class CdxEntry(file: String, idx: Int, rec_type: String, uri: String,
                      rec_offset: Long, rec_length: Long,
                      payload_len: Long, payload_md5: String, seek_ok: Boolean)

  /** Build the CDX index of one shard AND verify it: every entry's
    * byte slice is re-parsed as a standalone single-record WARC (the
    * exact operation a range-requesting consumer performs). Also
    * enforces complete tiling — records must cover the shard end to
    * end with no gaps — so the offsets are provably the framing's, not
    * a parallel bookkeeping that could drift. */
  def parseCdx(fileName: String, bytes: Array[Byte]): (Seq[CdxEntry], Boolean) = {
    val out = Seq.newBuilder[CdxEntry]
    var expectedOff = 0L
    var tiled = true
    val clean = walkWarc(bytes) { (idx, recType, uri, recOff, payOff, payLen) =>
      val recLen = (payOff - recOff + payLen + 4).toLong
      if (recOff.toLong != expectedOff) tiled = false
      expectedOff = recOff + recLen
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(java.util.Arrays.copyOfRange(bytes, payOff, payOff + payLen))
        .map("%02x".format(_)).mkString
      // The seek audit: re-parse the indexed slice in isolation.
      val slice = java.util.Arrays.copyOfRange(bytes, recOff, recOff + recLen.toInt)
      val ok = parseWarc(fileName, slice) match {
        case (Seq(r), true) =>
          r.rec_type == recType && r.uri == uri && r.payload_md5 == md
        case _ => false
      }
      out += CdxEntry(fileName, idx, recType, uri, recOff.toLong, recLen,
        payLen.toLong, md, ok)
    }
    val entries = out.result()
    (entries, clean && tiled && expectedOff == bytes.length.toLong)
  }

  /** Distributed CDX index build over shard paths — one task per shard,
    * same loud-failure contract as [[records]]. */
  def cdxIndex(spark: SparkSession, paths: Seq[String],
               tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean)(parseCdx).toDF()
  }

  /** The shared framing walk: calls `f(idx, type, uri, recordOffset,
    * payloadOffset, payloadLength)` per well-framed record (recordOffset
    * = the byte where the record's "WARC/1.0" line starts — the CDX
    * seek address), returns the clean-EOF flag. */
  private def walkWarc(bytes: Array[Byte])
                      (f: (Int, String, String, Int, Int, Int) => Unit): Boolean = {
    var off = 0
    var idx = 0
    var clean = true
    // Header lines decode as UTF-8: WARC 1.0 header VALUES (notably
    // WARC-Target-URI) are UTF-8 on the wire; payload framing is byte-based
    // so the decode charset never affects offsets.
    def readLine(from: Int): Option[(String, Int)] = {
      var i = from
      while (i + 1 < bytes.length && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 >= bytes.length) None
      else Some((new String(bytes, from, i - from, "UTF-8"), i + 2))
    }
    var halted = false
    while (!halted && off < bytes.length) {
      readLine(off) match {
        case Some(("WARC/1.0", afterVersion)) =>
          // Header block: lines until the empty line.
          var p = afterVersion
          var recType = ""; var uri = ""; var len = -1L
          var headerOk = true
          var headerDone = false
          while (headerOk && !headerDone) {
            readLine(p) match {
              case Some(("", next)) => headerDone = true; p = next
              case Some((line, next)) =>
                val c = line.indexOf(':')
                if (c < 0) headerOk = false
                else {
                  val k = line.substring(0, c).trim.toLowerCase
                  val v = line.substring(c + 1).trim
                  k match {
                    case "warc-type" => recType = v
                    case "warc-target-uri" => uri = v
                    case "content-length" =>
                      len = try v.toLong catch { case _: NumberFormatException => -1L }
                    case _ => ()
                  }
                  p = next
                }
              case None => headerOk = false
            }
          }
          // Payload: exactly len bytes, then the record-final \r\n\r\n.
          // The bounds guard is overflow-free: `p + len + 4 > bytes.length`
          // would wrap negative for a corrupt Content-Length near
          // Long.MaxValue and bypass the check, so compare against the
          // remaining byte budget instead (Int arithmetic, len already
          // known non-negative on that branch).
          if (!headerOk || len < 0 || len > (bytes.length - p - 4).toLong ||
              bytes(p + len.toInt) != Crlf(0) || bytes(p + len.toInt + 1) != Crlf(1) ||
              bytes(p + len.toInt + 2) != Crlf(0) || bytes(p + len.toInt + 3) != Crlf(1)) {
            clean = false; halted = true
          } else {
            f(idx, recType, uri, off, p, len.toInt)
            idx += 1
            off = p + len.toInt + 4
          }
        case _ => clean = false; halted = true
      }
    }
    clean
  }

  /** Distributed WARC record frame over explicit shard paths — one task
    * per shard. Unclean shards (trailing unframeable bytes) FAIL the read
    * loudly unless `tolerateUnclean = true`, which keeps the parsed prefix
    * ([[FileSources.framedShards]]). */
  def records(spark: SparkSession, paths: Seq[String],
              tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean)(parseWarc).toDF()
  }

  /** The loud-failure wording every WARC/CDX reader shares
    * ([[FileSources.framedShards]]). */
  private val Unclean = FileSources.Unclean(
    "unframeable trailing bytes", "records", "truncated or corrupt WARC")

  // ---- Deterministic gate fixture (see SourceQueries.warc_ingest) ----
  //
  // 24 shard files; file f carries one warcinfo record then
  // 5 + (f % 4) request/response pairs. Response i of file f:
  //   uri  = http://site{f%6}.example/f{f}/p{i}
  //   body = decoy ++ "x" * (40 + (f*31 + i*7) % 100)
  //   decoy (i % 3 == 0 only) = "WARC/1.0\r\nX: decoy\r\n"  — a payload
  //     that impersonates a record header, fatal to non-framing parsers.
  // The DuckDB oracle re-generates this closed-form model with range()
  // and repeat() and must agree on counts, byte sums, an order-pinning
  // (idx × len) moment and an md5-based content checksum.

  def fixtureFiles(dir: String): Seq[String] =
    (0 until 24).map(f => f"$dir/shard$f%02d.warc")

  private def record(recType: String, uri: Option[String], id: String,
                     payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $recType\r\n")
    sb.append(s"WARC-Record-ID: <urn:uuid:$id>\r\n")
    sb.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
    uri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
    sb.append(s"Content-Length: ${payload.length}\r\n\r\n")
    sb.toString.getBytes("US-ASCII") ++ payload ++ "\r\n\r\n".getBytes("US-ASCII")
  }

  /** The fixture shard as its RECORD LIST — the plain staging
    * concatenates them; the gzip staging wraps EACH record in its own
    * gzip member first (the actual Common Crawl layout, which makes a
    * single record seekable+decompressible without reading the shard). */
  private[graft] def fixtureShardRecords(f: Int): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    out += record("warcinfo", None, f"info-$f%02d",
      "software: graft\r\n".getBytes("US-ASCII"))
    for (i <- 0 until (5 + f % 4)) {
      val uri = s"http://site${f % 6}.example/f$f/p$i"
      out += record("request", Some(uri), f"req-$f%02d-$i%02d",
        "GET\r\n".getBytes("US-ASCII"))
      val decoy = if (i % 3 == 0) "WARC/1.0\r\nX: decoy\r\n" else ""
      val body = decoy + "x" * (40 + (f * 31 + i * 7) % 100)
      out += record("response", Some(uri), f"rsp-$f%02d-$i%02d",
        body.getBytes("US-ASCII"))
    }
    out.result()
  }

  private[graft] def fixtureShard(f: Int): Array[Byte] =
    fixtureShardRecords(f).reduce(_ ++ _)

  /** Stage the fixture under `dir`; returns the shard paths. */
  def stageFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WARC_V1", fixtureFiles(dir))(fixtureShard)

  // ---- Gzipped shards (the actual Common Crawl wire format) ----

  /** Decompress a MULTI-MEMBER gzip stream — Common Crawl WARC shards
    * are one gzip MEMBER PER RECORD, concatenated, so a range request
    * can decompress a single record in place. Deliberately NOT
    * GZIPInputStream: it swallows a corrupt next-member header (or
    * trailing garbage) as a clean EOF — a silent short read, exactly the
    * data-loss bug the WARC reader's loud-failure contract exists to
    * catch — and throws from mid-member truncation instead of salvaging.
    * This walk parses each member header itself (RFC 1952: magic, CM=8,
    * FLG optional fields), inflates the raw deflate stream, and VERIFIES
    * the member's CRC32 and ISIZE trailer. Returns (decompressed prefix,
    * clean): `clean` is false when any byte fails to frame as a valid,
    * checksummed member — everything before the damage is returned. */
  private[graft] def gunzipAll(bytes: Array[Byte]): (Array[Byte], Boolean) = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    def u16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    while (p < bytes.length) {
      // ---- member header (RFC 1952 §2.3) ----
      if (p + 10 > bytes.length || (bytes(p) & 0xff) != 0x1f ||
          (bytes(p + 1) & 0xff) != 0x8b || (bytes(p + 2) & 0xff) != 8)
        return (out.toByteArray, false)
      val flg = bytes(p + 3) & 0xff
      var q = p + 10
      if ((flg & 0x04) != 0) { // FEXTRA
        if (q + 2 > bytes.length) return (out.toByteArray, false)
        q += 2 + u16(q)
      }
      if ((flg & 0x08) != 0) { // FNAME: NUL-terminated
        while (q < bytes.length && bytes(q) != 0) q += 1
        q += 1
      }
      if ((flg & 0x10) != 0) { // FCOMMENT
        while (q < bytes.length && bytes(q) != 0) q += 1
        q += 1
      }
      if ((flg & 0x02) != 0) q += 2 // FHCRC
      if (q > bytes.length) return (out.toByteArray, false)
      // ---- raw deflate body — buffered per member: the salvage prefix
      // holds COMPLETE, CRC-verified members only, so a truncation
      // mid-deflate never leaks a partial member's bytes ----
      val member = new java.io.ByteArrayOutputStream()
      val inflater = new java.util.zip.Inflater(true)
      inflater.setInput(bytes, q, bytes.length - q)
      val crc = new java.util.zip.CRC32
      val buf = new Array[Byte](8192)
      var memberLen = 0L
      try {
        while (!inflater.finished()) {
          val n = inflater.inflate(buf)
          if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
            return (out.toByteArray, false) // truncated mid-member
          member.write(buf, 0, n); crc.update(buf, 0, n); memberLen += n
        }
      } catch {
        case _: java.util.zip.DataFormatException =>
          return (out.toByteArray, false)
      } finally {
        q += inflater.getBytesRead.toInt
        inflater.end()
      }
      // ---- trailer: CRC32 + ISIZE (mod 2^32) ----
      if (q + 8 > bytes.length || u32(q) != crc.getValue ||
          u32(q + 4) != (memberLen & 0xffffffffL))
        return (out.toByteArray, false)
      member.writeTo(out)
      p = q + 8
    }
    (out.toByteArray, true)
  }

  private[graft] def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bo)
    gz.write(bytes); gz.close()
    bo.toByteArray
  }

  /** [[records]] over per-record-gzipped shards: whole-shard read,
    * strict multi-member gunzip (every member CRC-verified — see
    * [[gunzipAll]]), then the SAME strict framing parse — the
    * decompressed byte stream is identical to the plain shard, so the
    * plain fixture's oracle holds verbatim. The shard is clean only when
    * BOTH layers are: a corrupt gzip member or unframeable WARC bytes
    * each trip the loud-failure/salvage contract. Scale caveat as with
    * every gzip source: members are only decompressible forward, one
    * task per shard file. */
  def recordsGz(spark: SparkSession, paths: Seq[String],
                tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean) { (name, bytes) =>
      val (plain, gzClean) = gunzipAll(bytes)
      val (recs, warcClean) = parseWarc(name, plain)
      (recs, gzClean && warcClean)
    }.toDF()
  }

  def gzFixtureFiles(dir: String): Seq[String] =
    (0 until 24).map(f => f"$dir/shard$f%02d.warc.gz")

  /** Stage the gzip fixture: the SAME 24 shards as [[stageFixture]],
    * each record wrapped in its own gzip member (so the staged files
    * exercise the multi-member path on every shard). */
  def stageGzFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WARC_GZ_V1", gzFixtureFiles(dir))(
      fixtureShardRecords(_).map(gzipMember).reduce(_ ++ _))

  // ---- zstd shards (the Common Crawl .warc.zst alternative format) ----

  /** Decompress a MULTI-FRAME zstd stream — the `.warc.zst` layout is one
    * zstd frame per record, concatenated, with skippable frames allowed
    * (the spec reserves a leading skippable frame for a shared
    * dictionary). Same loud-failure discipline as [[gunzipAll]]: every
    * byte must frame as a valid zstd frame; skippable frames (magic
    * 0x184D2A50–5F) contribute nothing; data frames are decompressed
    * with their declared content size enforced, and when the writer
    * embedded a content CHECKSUM (our staging does — see [[zstFrame]])
    * the decoder verifies it, so corruption anywhere in a frame trips
    * the salvage contract instead of surfacing mangled records. Returns
    * (decompressed prefix of COMPLETE frames, clean). Frames written
    * without a content size (pure streaming writers) are refused as
    * unclean rather than guessed at: the per-record layout this reader
    * exists for always records it. */
  private[graft] def unzstdAll(bytes: Array[Byte]): (Array[Byte], Boolean) = {
    import com.github.luben.zstd.Zstd
    val out = new java.io.ByteArrayOutputStream()
    val dctx = new com.github.luben.zstd.ZstdDecompressCtx()
    try {
      var p = 0
      def u32(off: Int): Long =
        (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
          ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
      while (p < bytes.length) {
        if (p + 4 > bytes.length) return (out.toByteArray, false)
        val magic = u32(p)
        // findFrameCompressedSize walks the block structure; any malformed
        // header/descriptor or mid-frame truncation throws.
        val cs =
          try Zstd.findFrameCompressedSize(bytes, p, bytes.length - p)
          catch { case _: com.github.luben.zstd.ZstdException =>
            return (out.toByteArray, false) }
        if (cs <= 0 || cs > (bytes.length - p).toLong)
          return (out.toByteArray, false)
        if (magic == ZstDictSlotMagic) {
          // The IIPC warc-zstd DICTIONARY slot (magic 0x184D2A5D): the
          // payload is a zstd dictionary, optionally itself a zstd
          // frame (detect by the frame magic). Load it for every data
          // frame that follows — this is what makes per-record frames
          // compress at shard-level ratios.
          if (p + 8 > bytes.length) return (out.toByteArray, false)
          val plen = u32(p + 4)
          if (plen > (cs - 8).toLong) return (out.toByteArray, false)
          val payload = java.util.Arrays.copyOfRange(bytes, p + 8, p + 8 + plen.toInt)
          val dict =
            if (payload.length >= 4 &&
                (payload(0) & 0xff) == 0x28 && (payload(1) & 0xff) == 0xb5 &&
                (payload(2) & 0xff) == 0x2f && (payload(3) & 0xff) == 0xfd) {
              val ds =
                try Zstd.getFrameContentSize(payload, 0, payload.length)
                catch { case _: com.github.luben.zstd.ZstdException =>
                  return (out.toByteArray, false) }
              if (ds <= 0 || ds > (Int.MaxValue - 16).toLong)
                return (out.toByteArray, false)
              val d = new Array[Byte](ds.toInt)
              val got =
                try Zstd.decompressByteArray(d, 0, d.length, payload, 0, payload.length)
                catch { case _: com.github.luben.zstd.ZstdException =>
                  return (out.toByteArray, false) }
              if (got != ds) return (out.toByteArray, false)
              d
            } else payload
          try dctx.loadDict(dict)
          catch { case _: com.github.luben.zstd.ZstdException =>
            return (out.toByteArray, false) } // malformed dictionary: loud
        } else if ((magic & 0xfffffff0L) == 0x184d2a50L) {
          // Other skippable frames: no decompressed bytes. A dictionary
          // in a NON-dict slot can't be used SILENTLY: a frame that
          // needs one fails its decompress below — loud.
          ()
        } else {
          val ds =
            try Zstd.getFrameContentSize(bytes, p, cs.toInt)
            catch { case _: com.github.luben.zstd.ZstdException =>
              return (out.toByteArray, false) }
          if (ds < 0 || ds > (Int.MaxValue - 16).toLong)
            return (out.toByteArray, false)
          val dst = new Array[Byte](ds.toInt)
          val got =
            try dctx.decompressByteArray(dst, 0, dst.length, bytes, p, cs.toInt)
            catch { case _: com.github.luben.zstd.ZstdException =>
              // covers corruption, checksum mismatch, a dict-needing
              // frame with no loaded dictionary, AND an unknown-
              // content-size frame misdeclared as 0 (dst too small) —
              // never a silent short read.
              return (out.toByteArray, false) }
          if (got != ds) return (out.toByteArray, false)
          out.write(dst, 0, dst.length)
        }
        p += cs.toInt
      }
      (out.toByteArray, true)
    } finally dctx.close()
  }

  /** The IIPC warc-zstd spec's dictionary-slot skippable-frame magic. */
  private[graft] val ZstDictSlotMagic = 0x184d2a5dL

  /** One record as one zstd frame, content size AND content checksum
    * embedded (xxhash64 low bits, verified by any conformant decoder) —
    * the per-record seekability of the gzip layout with zstd's ratio. */
  private[graft] def zstFrame(bytes: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try { ctx.setLevel(3); ctx.setChecksum(true); ctx.compress(bytes) }
    finally ctx.close()
  }

  /** A zstd SKIPPABLE frame carrying `payload` — the `.warc.zst`
    * dictionary-slot framing. The plain-zst fixture stages a
    * non-dictionary marker under the GENERIC skippable magic (0x184D2A50)
    * so the reader's skip path is exercised; the dict fixture uses the
    * spec's dictionary magic ([[ZstDictSlotMagic]]). */
  private[graft] def skippableFrame(payload: Array[Byte],
                                    magic: Long = 0x184d2a50L): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Unit =
      (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    le32(magic)
    le32(payload.length.toLong)
    out.write(payload, 0, payload.length)
    out.toByteArray
  }

  /** One record as one zstd frame compressed WITH a dictionary —
    * content size, content checksum AND the dictionary's ID embedded,
    * so a reader that skipped the dict slot fails the frame loudly
    * instead of emitting garbage. */
  private[graft] def zstFrameDict(bytes: Array[Byte], dict: Array[Byte]): Array[Byte] = {
    val ctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      ctx.setLevel(3); ctx.setChecksum(true); ctx.loadDict(dict)
      ctx.compress(bytes)
    } finally ctx.close()
  }

  /** Train a zstd dictionary from sample records (ZDICT — deterministic
    * for a fixed sample set, order, and library version). */
  private[graft] def trainZstDict(samples: Seq[Array[Byte]],
                                  dictBytes: Int = 16 * 1024): Array[Byte] = {
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      samples.map(_.length).sum + 1024, dictBytes)
    samples.foreach(trainer.addSample)
    trainer.trainSamples()
  }

  /** [[records]] over per-record-zstd shards: whole-shard read, strict
    * multi-frame unzstd ([[unzstdAll]] — checksums verified when
    * present, skippable frames skipped), then the SAME strict framing
    * parse; decompressed bytes are identical to the plain shard, so the
    * plain fixture's oracle holds verbatim. Clean requires BOTH layers
    * clean. Scale shape as [[recordsGz]]: one task per shard file. */
  def recordsZst(spark: SparkSession, paths: Seq[String],
                 tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean) { (name, bytes) =>
      val (plain, zClean) = unzstdAll(bytes)
      val (recs, warcClean) = parseWarc(name, plain)
      (recs, zClean && warcClean)
    }.toDF()
  }

  def zstFixtureFiles(dir: String): Seq[String] =
    (0 until 24).map(f => f"$dir/shard$f%02d.warc.zst")

  /** Same 24 shard names as the plain-zst fixture — the dict layout
    * mirrors it by construction. */
  def zstDictFixtureFiles(dir: String): Seq[String] = zstFixtureFiles(dir)

  /** Stage the DICTIONARY-compressed zstd fixture: the SAME 24 shards
    * as [[stageFixture]], every record frame compressed with one
    * trained ZDICT dictionary carried in the spec's leading
    * dictionary-slot skippable frame (magic 0x184D2A5D). Odd shards
    * carry the dictionary itself zstd-compressed in the slot (the
    * spec's optional form); even shards carry it raw. A reader that
    * skips the slot instead of loading it fails every record frame's
    * dictID check — loud, pinned in WarcSourceSpec. Content is
    * byte-identical to the plain shards, so warc_ingest's oracle holds
    * verbatim. */
  def stageZstDictFixture(dir: String): Seq[String] = {
    // One dictionary over the whole fixture's records — the shared-
    // dictionary economics the slot exists for (per-record frames,
    // shard-level ratios). Lazy: a staged dir trains nothing.
    lazy val dict = trainZstDict(
      (0 until 24).flatMap(f => fixtureShardRecords(f)))
    graft.Stage.files(dir, "_STAGED_WARC_ZSTDICT_V1", zstDictFixtureFiles(dir)) { f =>
      val slot =
        if (f % 2 == 1) skippableFrame(zstFrame(dict), ZstDictSlotMagic)
        else skippableFrame(dict, ZstDictSlotMagic)
      (slot +: fixtureShardRecords(f).map(zstFrameDict(_, dict))).reduce(_ ++ _)
    }
  }

  /** Stage the zstd fixture: the SAME 24 shards as [[stageFixture]],
    * one checksummed zstd frame per record, preceded by a skippable
    * dictionary-slot frame — every shard exercises multi-frame walk,
    * skippable skip and checksum verify. */
  def stageZstFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WARC_ZST_V1", zstFixtureFiles(dir)) { f =>
      (skippableFrame(s"graft-dict-slot-$f".getBytes("US-ASCII")) +:
        fixtureShardRecords(f).map(zstFrame)).reduce(_ ++ _)
    }

  // ---- HTTP extraction (the WARC → WET text-extraction chain) ----

  /** One HTTP response extracted from a WARC response record's payload:
    * status code, media type (Content-Type up to any ';'), body length,
    * body md5 hex, whitespace-token count of the body, and whether the
    * body arrived Transfer-Encoding: chunked (audit column — the oracle
    * recomputes which fixture responses are chunked). */
  case class HttpRecord(file: String, idx: Int, uri: String, status: Int,
                        media_type: String, body_len: Long,
                        body_md5: String, body_tokens: Long, chunked: Int)

  /** Parse an HTTP/1.1 response message in place (no payload copy):
    * status line, headers up to the blank line, body = the rest — either
    * one identity segment, or, under `Transfer-Encoding: chunked`, the
    * DE-CHUNKED data ranges ([[parseChunkedAt]]): real WET extraction
    * hits chunked payloads, and a parser that treats the chunk framing
    * as body bytes corrupts length, digest and tokens. Returns
    * (code, mediaType, bodySegments, chunked) with segments as
    * (offset, length) ranges into `bytes`, or None when the slice is not
    * an HTTP response (no CRLFCRLF split, malformed status line, or
    * malformed chunk framing) — a WARC can legally carry non-HTTP
    * payloads. */
  private[sources] def parseHttpAt(bytes: Array[Byte], off: Int, len: Int)
      : Option[(Int, String, List[(Int, Int)], Boolean)] = {
    // Find the FIRST header/body split within the slice.
    var i = off
    var split = -1
    val end = off + len
    while (split < 0 && i + 3 < end) {
      if (bytes(i) == '\r' && bytes(i + 1) == '\n' &&
          bytes(i + 2) == '\r' && bytes(i + 3) == '\n') split = i
      i += 1
    }
    if (split < 0) return None
    val head = new String(bytes, off, split - off, "US-ASCII")
    val lines = head.split("\r\n", -1)
    val status = lines.head.split(" ")
    if (status.length < 2 || !status(0).startsWith("HTTP/")) return None
    val code = try status(1).toInt catch { case _: NumberFormatException => return None }
    def header(name: String): Option[String] = lines.tail
      .find(_.toLowerCase.startsWith(name + ":"))
      .map(_.substring(name.length + 1).trim)
    // RAW Content-Type value — parameters (charset=...) included; the
    // callers that only want the media type strip at ';' themselves.
    val ctype = header("content-type").getOrElse("")
    val chunked = header("transfer-encoding")
      .exists(_.toLowerCase.split(",").map(_.trim).contains("chunked"))
    val bodyAt = split + 4
    if (!chunked) Some((code, ctype, List((bodyAt, end - bodyAt)), false))
    else parseChunkedAt(bytes, bodyAt, end).map(segs => (code, ctype, segs, true))
  }

  /** RFC 9112 §7.1 chunked framing over [from, end): each chunk is a hex
    * size line (optional `;ext` chunk extensions tolerated, CRLF
    * terminated), that many data bytes, CRLF; the stream ends with a
    * 0-size chunk, zero or more trailer header lines, and a final CRLF.
    * STRICT: a bad hex digit, missing CRLF, truncated data, or any bytes
    * after the terminator (the WARC Content-Length frames the record —
    * trailing garbage means the framing disagrees) returns None. */
  private[sources] def parseChunkedAt(bytes: Array[Byte], from: Int,
                                      end: Int): Option[List[(Int, Int)]] = {
    val segs = List.newBuilder[(Int, Int)]
    var p = from
    def lineEnd(at: Int): Int = { // index of CR of the next CRLF, or -1
      var i = at
      while (i + 1 < end && !(bytes(i) == '\r' && bytes(i + 1) == '\n')) i += 1
      if (i + 1 < end) i else -1
    }
    while (true) {
      val cr = lineEnd(p)
      if (cr < 0 || cr == p) return None // empty size line or no CRLF
      val sizeLine = new String(bytes, p, cr - p, "US-ASCII")
      val hexPart = sizeLine.takeWhile(_ != ';').trim
      if (hexPart.isEmpty || !hexPart.forall(c => Character.digit(c, 16) >= 0))
        return None
      val size = try java.lang.Long.parseLong(hexPart, 16)
      catch { case _: NumberFormatException => return None }
      p = cr + 2
      if (size == 0L) {
        // Trailer section: header lines until the terminating CRLF.
        var done = false
        while (!done) {
          if (p + 1 < end && bytes(p) == '\r' && bytes(p + 1) == '\n') {
            p += 2; done = true
          } else {
            val tcr = lineEnd(p)
            if (tcr < 0 || tcr == p) return None
            p = tcr + 2
          }
        }
        return if (p == end) Some(segs.result()) else None
      }
      if (size > (end - p).toLong - 2) return None // data + its CRLF must fit
      segs += ((p, size.toInt))
      p += size.toInt
      if (!(bytes(p) == '\r' && bytes(p + 1) == '\n')) return None
      p += 2
    }
    None // unreachable
  }

  /** Whole-payload convenience form of [[parseHttpAt]] (spec surface):
    * returns the materialized (de-chunked) body bytes. */
  private[sources] def parseHttpPayload(bytes: Array[Byte]): Option[(Int, String, Array[Byte])] =
    parseHttpAt(bytes, 0, bytes.length).map { case (code, rawCt, segs, _) =>
      val body = new java.io.ByteArrayOutputStream()
      segs.foreach { case (o, l) => body.write(bytes, o, l) }
      (code, rawCt.takeWhile(_ != ';').trim, body.toByteArray)
    }

  /** Distributed WET-style extraction: every WARC *response* record whose
    * payload parses as an HTTP response becomes one [[HttpRecord]] row.
    * Body bytes are digested and tokenized in place — no per-record
    * payload copy. Same loud-failure contract as [[records]]. */
  def httpResponses(spark: SparkSession, paths: Seq[String],
                    tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean) { (name, bytes) =>
      val out = Seq.newBuilder[HttpRecord]
      val clean = walkWarc(bytes) { (idx, recType, uri, _, payOff, payLen) =>
        if (recType == "response") {
          parseHttpAt(bytes, payOff, payLen).foreach { case (code, rawCt, segs, chk) =>
            val digest = java.security.MessageDigest.getInstance("MD5")
            var bLen = 0L
            var toks = 0L; var inTok = false
            // Digest and tokenize across the de-chunked segments in
            // order; inTok carries OVER segment boundaries — a chunk
            // split mid-token must not double-count the token.
            segs.foreach { case (o, l) =>
              digest.update(bytes, o, l)
              bLen += l
              var i = o
              while (i < o + l) {
                val b = bytes(i)
                val ws = b == ' ' || b == '\t' || b == '\r' || b == '\n'
                if (ws) inTok = false
                else if (!inTok) { toks += 1; inTok = true }
                i += 1
              }
            }
            val md = digest.digest().map("%02x".format(_)).mkString
            out += HttpRecord(name, idx, uri, code,
              rawCt.takeWhile(_ != ';').trim, bLen, md, toks,
              if (chk) 1 else 0)
          }
        }
      }
      (out.result(), clean)
    }.toDF()
  }

  // HTTP fixture: 12 shards; shard f carries 6 + (f % 3) responses whose
  // payloads are REAL HTTP/1.1 messages. Response i of shard f:
  //   uri    = http://h{f%5}.example/f{f}/r{i}
  //   status = 404 when i % 5 == 4 else 200
  //   type   = text/html when i % 2 == 0 else text/plain
  //   body   = "tok " × T, trailing space trimmed; T = 5 + (f*7 + i*11) % 50
  // so body_len = 4T − 1 and body_tokens = T — closed-form for the oracle.
  // Responses with i % 3 == 1 arrive Transfer-Encoding: CHUNKED: the same
  // body split into chunks of varying sizes 1 + (f + i + k) % 9 (k-th
  // chunk — splits land mid-token on purpose), a chunk extension on the
  // first size line, and a trailer header after the 0-chunk when
  // i % 6 == 1. The DE-CHUNKED body equals the identity body, so the
  // body_len/md5/token columns of the oracle hold unchanged — a parser
  // that keeps the framing bytes, drops a chunk, or double-counts a
  // split token cannot agree; n_chunked pins which rows took the path.

  def httpFixtureFiles(dir: String): Seq[String] =
    (0 until 12).map(f => f"$dir/http$f%02d.warc")

  /** Chunked-encode `body` for response (f, i) per the fixture rule. */
  private[graft] def chunkEncode(body: Array[Byte], f: Int, i: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, s.length)
    var p = 0
    var k = 0
    while (p < body.length) {
      val size = math.min(1 + (f + i + k) % 9, body.length - p)
      // A chunk extension on the first size line — legal and routinely
      // emitted by real servers; the parser must skip it.
      ascii(java.lang.Long.toHexString(size.toLong) +
        (if (k == 0) ";graft=1" else "") + "\r\n")
      out.write(body, p, size)
      ascii("\r\n")
      p += size; k += 1
    }
    ascii("0\r\n")
    if (i % 6 == 1) ascii("X-Graft-Trailer: done\r\n")
    ascii("\r\n")
    out.toByteArray
  }

  private[graft] def httpFixtureShard(f: Int): Array[Byte] = {
    val buf = Array.newBuilder[Byte]
    buf ++= record("warcinfo", None, f"hinfo-$f%02d",
      "software: graft\r\n".getBytes("US-ASCII"))
    for (i <- 0 until (6 + f % 3)) {
      val uri = s"http://h${f % 5}.example/f$f/r$i"
      val status = if (i % 5 == 4) "404 Not Found" else "200 OK"
      val ctype = if (i % 2 == 0) "text/html" else "text/plain"
      val t = 5 + (f * 7 + i * 11) % 50
      val body = ("tok " * t).stripSuffix(" ").getBytes("US-ASCII")
      val chunked = i % 3 == 1
      val head = s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\n" +
        (if (chunked) "Transfer-Encoding: chunked\r\n" else "") +
        s"X-Crawler: graft\r\n\r\n"
      val payload = head.getBytes("US-ASCII") ++
        (if (chunked) chunkEncode(body, f, i) else body)
      buf ++= record("response", Some(uri), f"hrsp-$f%02d-$i%02d", payload)
    }
    buf.result()
  }

  /** Stage the HTTP fixture (V2 marker — V1 predates the chunked rows). */
  def stageHttpFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WARC_HTTP_V2", httpFixtureFiles(dir))(httpFixtureShard)

  // ---- Charset-aware WET text extraction ----
  //
  // Real Common Crawl responses are only ~80-90% UTF-8; the rest declare
  // (or silently use) legacy encodings — windows-1252, iso-8859-*,
  // shift_jis, ... A UTF-8-only decode does not FAIL on those bodies, it
  // silently mojibakes them (each legacy byte ≥ 0x80 becomes U+FFFD or a
  // wrong letter) and the garbage flows into the training corpus. This
  // is the ingest-fidelity concern of the reference's whole-file read
  // (loadFile, FileWordCounter.cpp:139-147) at the crawl scale.

  /** The `charset=` parameter of a Content-Type header value, if any:
    * case-insensitive name and value, optional quotes, surrounding
    * whitespace tolerated. Returned lowercased (charset names are
    * case-insensitive per RFC 2046). */
  private[graft] def charsetParam(rawContentType: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile(";\\s*charset\\s*=\\s*\"?([^\";]+?)\"?\\s*(;|$)",
        java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(rawContentType)
    if (m.find()) Some(m.group(1).trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty)
    else None
  }

  /** Decode an HTTP body to text. The documented rule:
    *  1. a DECLARED, JVM-supported charset decodes with REPLACE
    *     semantics (malformed sequences → U+FFFD — deterministic even
    *     when the server lies about its encoding);
    *  2. otherwise (absent or unsupported label) try STRICT UTF-8 —
    *     the dominant real-world default, and strictness is what makes
    *     the fallback meaningful;
    *  3. if the bytes are not valid UTF-8, decode as windows-1252 — the
    *     HTML5/WHATWG fallback superset of ASCII in which every byte
    *     sequence decodes.
    * Returns (text, canonical lowercase name of the charset USED). */
  private[graft] def decodeBody(body: Array[Byte],
                                declared: Option[String]): (String, String) = {
    import java.nio.charset.{Charset, CodingErrorAction}
    def decode(cs: Charset, strict: Boolean): Option[String] = {
      val action = if (strict) CodingErrorAction.REPORT else CodingErrorAction.REPLACE
      try Some(cs.newDecoder()
        .onMalformedInput(action).onUnmappableCharacter(action)
        .decode(java.nio.ByteBuffer.wrap(body)).toString)
      catch { case _: java.nio.charset.CharacterCodingException => None }
    }
    val declaredCs = declared.flatMap { name =>
      try Some(Charset.forName(name)) catch { case _: Exception => None }
    }
    declaredCs match {
      case Some(cs) =>
        (decode(cs, strict = false).get, cs.name().toLowerCase(java.util.Locale.ROOT))
      case None =>
        decode(Charset.forName("UTF-8"), strict = true) match {
          case Some(t) => (t, "utf-8")
          case None =>
            (decode(Charset.forName("windows-1252"), strict = false).get,
              "windows-1252")
        }
    }
  }

  /** One charset-decoded HTTP response: declared charset label (the
    * lowercased `charset=` parameter, "" when absent), the charset the
    * decode actually USED, the decoded text and its length in code
    * points. */
  case class HttpTextRecord(file: String, idx: Int, uri: String, status: Int,
                            media_type: String, declared: String,
                            used: String, text: String, n_chars: Long)

  /** Distributed charset-aware WET extraction: like [[httpResponses]]
    * but DECODES each response body to text per [[decodeBody]]'s rule
    * instead of digesting raw bytes. Same one-task-per-shard scale
    * shape; the decoded-text copy per record is the unavoidable cost of
    * producing text (the WET file Common Crawl ships is exactly this
    * materialization). */
  def httpTexts(spark: SparkSession, paths: Seq[String],
                tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean) { (name, bytes) =>
      val out = Seq.newBuilder[HttpTextRecord]
      val clean = walkWarc(bytes) { (idx, recType, uri, _, payOff, payLen) =>
        if (recType == "response") {
          parseHttpAt(bytes, payOff, payLen).foreach { case (code, rawCt, segs, _) =>
            val body = new java.io.ByteArrayOutputStream()
            segs.foreach { case (o, l) => body.write(bytes, o, l) }
            val declared = charsetParam(rawCt)
            val (text, used) = decodeBody(body.toByteArray, declared)
            val mt = rawCt.takeWhile(_ != ';').trim
            out += HttpTextRecord(name, idx, uri, code, mt,
              declared.getOrElse(""), used, text, text.codePointCount(0, text.length).toLong)
          }
        }
      }
      (out.result(), clean)
    }.toDF()
  }

  /** Charset fixture model — shared by [[stageCharsetFixture]] and the
    * warc_charset_extract oracle. Case `i` of shard `f` (8 shards × 7
    * responses, one per case, uri http://cs.example/f{f}/c{i}):
    * (Content-Type header value, charset the BYTES are encoded in,
    * base Unicode string). The decoded text is
    * `(base + " ") × n + "x{f}_{i}"` with n = 1 + (f + i) % 4 — closed
    * form on both engines. The cases, in order:
    *  0 declared utf-8, multibyte body;
    *  1 declared windows-1252 — é/€ bytes that a UTF-8-only decode
    *    mojibakes (THE trap);
    *  2 declared ISO-8859-1 (case-insensitive label);
    *  3 declared Shift_JIS (a multi-byte legacy CJK encoding);
    *  4 NO charset parameter, body invalid UTF-8 → windows-1252
    *    fallback;
    *  5 quoted + mixed-case parameter (`Charset="UTF-8"`);
    *  6 unsupported label → strict-UTF-8 fallback (multibyte body
    *    proves the fallback tries UTF-8 before windows-1252). */
  private[graft] val charsetCases: IndexedSeq[(String, String, String)] =
    IndexedSeq(
      ("text/plain; charset=utf-8", "UTF-8", "caf\u00e9 \u20ac0"),
      ("text/html; charset=windows-1252", "windows-1252", "caf\u00e9 \u20ac1"),
      ("text/plain; charset=ISO-8859-1", "ISO-8859-1", "ca\u00df \u00e92"),
      ("text/plain; charset=Shift_JIS", "Shift_JIS", "\u65e5\u672c\u8a9e3"),
      ("text/plain", "windows-1252", "caf\u00e94"),
      ("text/plain; Charset=\"UTF-8\"", "UTF-8", "na\u00efve5"),
      ("text/plain; charset=x-graft-bogus", "UTF-8", "h\u00e9llo6"))

  private[graft] def charsetText(f: Int, i: Int): String = {
    val base = charsetCases(i)._3
    val n = 1 + (f + i) % 4
    (base + " ") * n + s"x${f}_$i"
  }

  def charsetFixtureFiles(dir: String): Seq[String] =
    (0 until 8).map(f => f"$dir/cs$f%02d.warc")

  private[graft] def charsetFixtureShard(f: Int): Array[Byte] = {
    val buf = Array.newBuilder[Byte]
    buf ++= record("warcinfo", None, f"csinfo-$f%02d",
      "software: graft\r\n".getBytes("US-ASCII"))
    for (i <- charsetCases.indices) {
      val (ctype, enc, _) = charsetCases(i)
      val uri = s"http://cs.example/f$f/c$i"
      val body = charsetText(f, i).getBytes(enc)
      val head = s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\n\r\n"
      buf ++= record("response", Some(uri), f"csrsp-$f%02d-$i%02d",
        head.getBytes("US-ASCII") ++ body)
    }
    buf.result()
  }

  // ---- Crawl-corpus fixture: WARC shards whose bodies ARE corpus text ----

  /** Stage WARC shards whose response bodies are the documents table's
    * texts — the arrival format of the end-to-end text pipeline
    * (pipeline_crawl_corpus), so every downstream stage (quality, LM,
    * dedup, mix) runs on real corpus text and the oracle replays from
    * the parquet table. Membership model (closed form for the oracle):
    * every doc_id % 2 == 0 doc appears once with crawl_id = doc_id·10
    * (shard (doc_id/2) % 6); docs with doc_id % 10 == 4 are RE-CRAWLED
    * into the next shard under alias crawl_id = doc_id·10 + 1 —
    * identical body, different URI, which is exactly what the exact-
    * dedup stage exists to drop. URIs carry the lang and crawl_id:
    * http://crawl.example/{lang}/d{crawl_id}.
    *
    * Staging is DISTRIBUTED: one task per shard via groupByKey (rows
    * sorted in-group for deterministic bytes) — no driver-side collect
    * of corpus text. */
  def stageCrawlFixture(spark: SparkSession, dataDir: String,
                        dir: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val paths = (0 until 6).map(f => f"$dir/crawl$f%02d.warc")
    // V3 fixture: bodies are HTML pages (nav + content + footer blocks)
    // so the funnel's boilerplate stage has real markup to strip.
    graft.Stage.once(dir, "_STAGED_WARC_CRAWL_V3") {
      // Retire superseded fixture markers so a shared staging dir does
      // not accumulate stale V1/V2 flags across upgrades.
      Seq("_STAGED_WARC_CRAWL_V1", "_STAGED_WARC_CRAWL_V2")
        .foreach(m => new java.io.File(dir, m).delete())
      val base = graft.Tables.documents(spark, dataDir)
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      val rows = base
        .select((expr("doc_id div 2") % 6).as("shard"),
          (col("doc_id") * 10).as("crawl_id"), col("lang"), col("text"))
        .unionByName(base.filter(col("doc_id") % 10 === 4)
          .select(((expr("doc_id div 2") + 1) % 6).as("shard"),
            (col("doc_id") * 10 + 1).as("crawl_id"), col("lang"), col("text")))
        .as[(Long, Long, String, String)]
      val written = rows.groupByKey(_._1)
        .mapGroups { (shard, it) =>
          val buf = Array.newBuilder[Byte]
          buf ++= record("warcinfo", None, f"crawlinfo-$shard%02d",
            "software: graft\r\n".getBytes("US-ASCII"))
          it.toSeq.sortBy(_._2).foreach { case (_, cid, lang, text) =>
            // The served page: a link-farm nav <div> (long enough and
            // stopword-dense enough to pass those rules — ONLY the
            // anchor-density rule drops it), the article text as the one
            // content <p>, and a short copyright footer (length rule).
            // Nav anchors are built from corpus function words so the
            // length AND stopword rules pass — only anchor density
            // drops the block (the rule link farms exist to trip).
            val page =
              "<div><a href='/n'>join hash row scan</a> | " +
                "<a href='/n'>batch customer column</a> | " +
                "<a href='/n'>filter small slow</a></div>" +
                s"<p>$text</p>" +
                "<p>copyright 2026 example corp</p>"
            val body = page.getBytes("UTF-8")
            val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
            buf ++= record("response",
              Some(s"http://crawl.example/$lang/d$cid"),
              f"crawlrsp-$shard%02d-$cid",
              head.getBytes("US-ASCII") ++ body)
          }
          val p = f"$dir/crawl$shard%02d.warc"
          java.nio.file.Files.write(java.nio.file.Paths.get(p), buf.result())
          p
        }
      val got = written.collect().toSet // 6-row action, metadata only
      require(got == paths.toSet, s"staged shards $got != expected $paths")
    }
    paths
  }

  /** Stage the charset fixture. */
  def stageCharsetFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WARC_CHARSET_V1", charsetFixtureFiles(dir))(
      charsetFixtureShard)
}
