package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** POSIX ustar TAR shard reader — the WebDataset layout multimodal
  * training corpora ship in: each `.tar` shard holds samples as groups of
  * member files sharing a basename (`00042.jpg` + `00042.json` + …), and
  * the loader re-pairs them by key. The reference engine reads loose text
  * directories (FileWordCounter.cpp:189-226); tar shards are what the
  * same corpus looks like once it is packed for sequential-read
  * throughput at 100 TB (one task per shard, no per-file open cost).
  *
  * Format essentials (POSIX.1-1988 ustar, public spec): 512-byte header
  * blocks — name[100] mode[8] uid[8] gid[8] size[12] mtime[12] chksum[8]
  * typeflag[1] linkname[100] magic[6]="ustar\0" version[2] uname[32]
  * gname[32] devmajor[8] devminor[8] prefix[155] — each followed by the
  * member's data rounded UP to whole 512-byte blocks; the archive ends
  * with two all-zero blocks. Numeric fields are NUL/space-terminated
  * octal ASCII; the checksum is the unsigned byte sum of the header with
  * the chksum field read as eight spaces.
  *
  * The load-bearing rules this reader gets right (and the gate fixture
  * makes fatal to get wrong):
  *   - BLOCK ARITHMETIC, not scanning: the next header lives at exactly
  *     `ceil(size/512)` blocks past the data start. Member payloads in
  *     the fixture CONTAIN the bytes "ustar" (a tarball quoting a
  *     tarball), so a parser that resyncs on the magic string splits
  *     members; and payload sizes cover 0/1/2-block padding INCLUDING
  *     exact 512-multiples, so "always add a pad block" desyncs too.
  *   - OCTAL size parsing with termination handling (leading spaces,
  *     NUL/space terminators).
  *   - CHECKSUM VERIFICATION: every header's unsigned sum is recomputed
  *     and compared; a corrupt or misaligned "header" fails loudly
  *     instead of yielding garbage offsets.
  *   - The ustar prefix field: names longer than 100 bytes join
  *     `prefix + "/" + name`.
  *
  * Same loud-failure/salvage contract as [[WarcSource]]: unframeable
  * bytes throw unless `tolerateUnclean = true`, which salvages everything
  * before the damage.
  */
object TarSource {

  /** One archive member: shard basename, 0-based member ordinal (ALL
    * member types count — pins the full member sequence), full joined
    * name, typeflag as a 1-char string ("0" file, "5" directory), data
    * size, and payload md5 hex ("" for non-file members). */
  case class TarEntry(file: String, eidx: Int, name: String,
                      typeflag: String, size: Long, payload_md5: String)

  /** A member WITH its payload bytes — the decode-pipeline variant of
    * [[TarEntry]] (a WebDataset consumer needs the image bytes, not just
    * the audit digest). `data` is empty for non-file members. */
  case class TarMember(file: String, eidx: Int, name: String,
                       typeflag: String, size: Long, data: Array[Byte])

  private val Block = 512

  /** Parse one tar shard into payload-carrying members. Returns
    * (members, cleanEof): `false` means the walk hit bytes it could not
    * frame (bad checksum, truncated data, missing end-of-archive
    * marker); members before the damage are still returned. */
  def parseTarMembers(fileName: String, bytes: Array[Byte]): (Seq[TarMember], Boolean) = {
    val out = Seq.newBuilder[TarMember]
    var off = 0
    var idx = 0

    def zeroBlock(at: Int): Boolean = {
      var i = at
      val end = at + Block
      while (i < end && bytes(i) == 0) i += 1
      i == end
    }
    def cstr(at: Int, width: Int): String = {
      var n = 0
      while (n < width && bytes(at + n) != 0) n += 1
      new String(bytes, at, n, "US-ASCII")
    }
    /** NUL/space-terminated octal with leading spaces, per the spec. */
    def octal(at: Int, width: Int): Long = {
      var i = at
      val end = at + width
      while (i < end && bytes(i) == ' ') i += 1
      var v = 0L
      var any = false
      while (i < end && bytes(i) >= '0' && bytes(i) <= '7') {
        v = v * 8 + (bytes(i) - '0'); any = true; i += 1
        if (v < 0) return -1L // overflow
      }
      if (!any) -1L
      else if (i < end && bytes(i) != 0 && bytes(i) != ' ') -1L
      else v
    }

    while (true) {
      if (off + Block > bytes.length) return (out.result(), false)
      if (zeroBlock(off)) {
        // End-of-archive: a second zero block, then only zero padding
        // (writers pad to a blocking factor) is a clean EOF.
        if (off + 2 * Block > bytes.length || !zeroBlock(off + Block))
          return (out.result(), false)
        var t = off + 2 * Block
        while (t < bytes.length) {
          if (bytes(t) != 0) return (out.result(), false)
          t += 1
        }
        return (out.result(), true)
      }
      // Header block: verify the checksum FIRST — only a block that sums
      // correctly is trusted to carry offsets. POSIX specifies the
      // UNSIGNED byte sum, but historic writers summed SIGNED bytes
      // (headers whose uname/prefix contain bytes ≥ 0x80 then differ);
      // GNU tar accepts either, and so do we — a real shard from such a
      // writer must stay readable.
      val stored = octal(off + 148, 8)
      var sumU = 0L
      var sumS = 0L
      var i = 0
      while (i < Block) {
        if (i >= 148 && i < 156) { sumU += ' '.toInt; sumS += ' '.toInt }
        else { sumU += bytes(off + i) & 0xff; sumS += bytes(off + i) }
        i += 1
      }
      if (stored < 0 || (sumU != stored && sumS != stored)) return (out.result(), false)
      if (cstr(off + 257, 6) != "ustar") return (out.result(), false)
      val size = octal(off + 124, 12)
      if (size < 0 || size > (bytes.length - off - Block).toLong)
        return (out.result(), false)
      val nameField = cstr(off, 100)
      val prefix = cstr(off + 345, 155)
      val name = if (prefix.isEmpty) nameField else s"$prefix/$nameField"
      val tf = bytes(off + 156) match {
        case 0 => "0" // old-tar NUL typeflag means regular file
        case b => (b & 0xff).toChar.toString
      }
      val dataStart = off + Block
      val data =
        if (tf == "0")
          java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size.toInt)
        else Array.emptyByteArray
      out += TarMember(fileName, idx, name, tf, size, data)
      idx += 1
      val padded = ((size + Block - 1) / Block).toInt * Block
      off = dataStart + padded
    }
    throw new IllegalStateException("unreachable")
  }

  /** [[parseTarMembers]] reduced to the audit row shape: payloads become
    * md5 digests ("" for non-file members; a zero-byte member is still a
    * file and digests the empty payload). */
  def parseTar(fileName: String, bytes: Array[Byte]): (Seq[TarEntry], Boolean) = {
    val (ms, clean) = parseTarMembers(fileName, bytes)
    val out = ms.map { m =>
      val md =
        if (m.typeflag == "0")
          java.security.MessageDigest.getInstance("MD5")
            .digest(m.data).map("%02x".format(_)).mkString
        else ""
      TarEntry(m.file, m.eidx, m.name, m.typeflag, m.size, md)
    }
    (out, clean)
  }

  /** The loud-failure wording of the tar readers
    * ([[FileSources.framedShards]]). */
  private val Unclean = FileSources.Unclean(
    "unframeable bytes", "members", "bad checksum, truncation or desync")
  private val UncleanGz = Unclean.copy(causes = "gzip corruption, " + Unclean.causes)

  /** Distributed member reader: one task per shard (the WebDataset scale
    * shape), single forward block walk per shard, everything downstream
    * ordinary codegen'd DataFrame ops. */
  def entries(spark: SparkSession, paths: Seq[String],
              tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean)(parseTar).toDF()
  }

  /** [[entries]] with payload BYTES — the reader a WebDataset decode
    * pipeline consumes (tar shard → image members → decoders). Same
    * shape and loud-failure contract; the payload column adds no extra
    * pass (the audit reader already slices every payload to digest it). */
  def members(spark: SparkSession, paths: Seq[String],
              tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, Unclean)(parseTarMembers).toDF()
  }

  /** [[entries]] over gzip-compressed shards (`.tar.gz` — the compressed
    * WebDataset layout): whole-shard read, strict multi-member gunzip
    * ([[WarcSource.gunzipAll]] — every member CRC-verified), then the
    * SAME block walk over the decompressed bytes. The decompressed
    * stream is byte-identical to a plain shard, so the plain fixture's
    * oracle holds verbatim. Unlike `.warc.gz` (one member per record),
    * gzip member boundaries in a `.tar.gz` carry NO framing meaning —
    * the staged fixture cuts members mid-header on purpose, so a reader
    * that walks each gzip member as its own tar desyncs immediately;
    * only the concatenation frames. Clean requires BOTH layers clean.
    * Scale caveat as every gzip source: forward-only decompression, one
    * task per shard — which is already the WebDataset unit of work. */
  def entriesGz(spark: SparkSession, paths: Seq[String],
                tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, UncleanGz) { (name, bytes) =>
      val (plain, gzClean) = WarcSource.gunzipAll(bytes)
      val (out, tarClean) = parseTar(name, plain)
      (out, gzClean && tarClean)
    }.toDF()
  }

  // ------------------------------------------------------------------
  // Tar WRITER (fixture staging + a real sink primitive): spec-complete
  // ustar headers with computed checksums.

  /** One ustar header + data, padded to whole blocks. */
  private[graft] def member(name: String, typeflag: Char,
                            data: Array[Byte]): Array[Byte] = {
    require(name.getBytes("US-ASCII").length <= 100, s"name too long: $name")
    val h = new Array[Byte](Block)
    def put(at: Int, s: String): Unit = {
      val b = s.getBytes("US-ASCII")
      System.arraycopy(b, 0, h, at, b.length)
    }
    put(0, name)
    put(100, "0000644")
    put(108, "0000000")
    put(116, "0000000")
    put(124, f"${data.length}%011o")
    put(136, "00000000000")
    java.util.Arrays.fill(h, 148, 156, ' '.toByte) // chksum as spaces
    h(156) = typeflag.toByte
    put(257, "ustar")
    put(263, "00")
    put(265, "graft")
    put(297, "graft")
    put(329, "0000000")
    put(337, "0000000")
    var sum = 0L
    var i = 0
    while (i < Block) { sum += h(i) & 0xff; i += 1 }
    put(148, f"$sum%06o")
    h(154) = 0
    h(155) = ' '.toByte
    val padded = ((data.length + Block - 1) / Block) * Block
    val out = new Array[Byte](Block + padded)
    System.arraycopy(h, 0, out, 0, Block)
    System.arraycopy(data, 0, out, Block, data.length)
    out
  }

  private[graft] def archive(members: Seq[Array[Byte]]): Array[Byte] = {
    val total = members.map(_.length).sum + 2 * Block
    val out = new Array[Byte](total) // trailing two zero blocks pre-zeroed
    var off = 0
    members.foreach { m =>
      System.arraycopy(m, 0, out, off, m.length); off += m.length
    }
    out
  }

  // ---- Deterministic gate fixture (see SourceQueries.tar_ingest) ----
  //
  // 16 shard files; shard f carries one directory member d{f}/ then
  // 5 + (f % 4) WebDataset samples. Sample i of shard f (key = f·100+i):
  //   d{f}/s{key}.txt  — payload = decoy ++ "x" * n, where
  //     decoy (i % 3 == 0 only) = "ustar  00fake" — member content that
  //       quotes the tar magic, fatal to resync-by-magic parsers;
  //     n = 512·(1 + i%2) − len(decoy)   when i % 4 == 3  (EXACT block
  //       multiples: a "always pad" walker desyncs here)
  //       = 300 + (f·31 + i·7) % 600      otherwise (0/1/2-block padding)
  //   d{f}/s{key}.json — sidecar '{"k":<key>,"n":<txt len>}'
  // The DuckDB oracle re-generates this closed-form model with range()
  // and repeat() and must agree on member counts, sample PAIRING, byte
  // sums, an order-pinning (eidx × size) moment and an md5 checksum.

  def fixtureFiles(dir: String): Seq[String] =
    (0 until 16).map(f => f"$dir/shard$f%02d.tar")

  private[graft] def fixtureShard(f: Int): Array[Byte] = {
    val ms = Seq.newBuilder[Array[Byte]]
    ms += member(s"d$f/", '5', Array.emptyByteArray)
    (0 until (5 + f % 4)).foreach { i =>
      val key = f * 100 + i
      val dec = if (i % 3 == 0) "ustar  00fake" else ""
      val n =
        if (i % 4 == 3) 512 * (1 + i % 2) - dec.length
        else 300 + (f * 31 + i * 7) % 600
      val txt = (dec + "x" * n).getBytes("US-ASCII")
      ms += member(s"d$f/s$key.txt", '0', txt)
      val sidecar = s"""{"k":$key,"n":${txt.length}}""".getBytes("US-ASCII")
      ms += member(s"d$f/s$key.json", '0', sidecar)
    }
    archive(ms.result())
  }

  def gzFixtureFiles(dir: String): Seq[String] =
    (0 until 16).map(f => f"$dir/shard$f%02d.tar.gz")

  /** Stage the `.tar.gz` fixture: the SAME 16 shards as [[stageFixture]]
    * byte-for-byte after decompression, each split into 1500-byte gzip
    * members — boundaries that never align with 512-byte tar blocks, so
    * per-member parsing (instead of concatenate-then-walk) is fatal. */
  def stageGzFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_TGZ_V1", gzFixtureFiles(dir))(
      fixtureShard(_).grouped(1500).map(WarcSource.gzipMember).reduce(_ ++ _))

  def stageFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_TAR_V1", fixtureFiles(dir))(fixtureShard)
}
