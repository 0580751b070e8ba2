package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ZIP shard reader — the other archive layout crawl dumps and scraped
  * datasets actually arrive in (PKWARE APPNOTE.TXT, public spec). The
  * reference engine reads loose text directories
  * (FileWordCounter.cpp:189-226); ZIP is that corpus packed by the
  * most common tool on earth, so an ingest engine has to read it.
  *
  * The load-bearing design rule: the CENTRAL DIRECTORY is the only
  * authoritative member index. A streaming parser that walks local file
  * headers front-to-back breaks on two real-world layouts this reader's
  * gate fixture contains:
  *
  *   - ORPHANED local entries: members deleted-in-place or superseded by
  *     an append still have their local header + data bytes present but
  *     are absent from the central directory — per spec they are NOT in
  *     the archive. Every fixture shard plants one; a sequential walker
  *     over-counts.
  *   - DATA-DESCRIPTOR members (general-purpose flag bit 3): the local
  *     header stores crc/csize/usize as ZERO (the writer streamed and
  *     didn't know them yet) and the true values follow the data. Walking
  *     forward you cannot even know where the data ENDS without inflating
  *     as you go; seeking from the central directory (which always has
  *     the real sizes) is the spec-sanctioned path.
  *
  * Further traps the fixture makes fatal: member payloads QUOTE the
  * "PK\3\4" local-header magic (resync-by-signature splits them); the
  * end-of-central-directory record carries a non-empty comment (an
  * EOCD reader that assumes the record sits at a fixed -22 offset
  * misses it — a backward scan validated by "comment runs exactly to
  * EOF" is required); local extra-field lengths differ from the central
  * ones for some members (the LFH's OWN name/extra lengths locate the
  * data, not the central copy's).
  *
  * Verification per member: local signature, local-vs-central name and
  * method agreement, local crc/size agreement when bit 3 is clear,
  * exact inflate length (method 8, raw deflate), and CRC-32 of the
  * decompressed payload against the central record. Loud-failure /
  * salvage contract as [[TarSource]] / [[WarcSource]].
  *
  * Out of scope (documented, not silently wrong): ZIP64 (4 GiB+ members
  * or >64k entries — the reader fails loudly on the 0xffffffff
  * sentinels), encryption, and compression methods other than stored
  * and deflate.
  *
  * Scale shape: one task per shard (whole-archive read — the central
  * directory lives at the END, so ZIP is inherently a seekable-blob
  * format, not a split-streamable one), single backward EOCD scan +
  * one forward central-directory walk, then ordinary codegen'd
  * DataFrame ops downstream.
  */
object ZipSource {

  /** One archive member (central-directory order): shard basename,
    * 0-based central-directory ordinal, member name, method (0 stored /
    * 8 deflate), true uncompressed size, whether the member used a
    * data descriptor (flag bit 3), and the decompressed payload's md5. */
  case class ZipEntry(file: String, eidx: Int, name: String, method: Int,
                      usize: Long, streamed: Boolean, payload_md5: String)

  private val LfhSig = 0x04034b50
  private val CdSig = 0x02014b50
  private val EocdSig = 0x06054b50
  private val DescSig = 0x08074b50

  private def u16(b: Array[Byte], at: Int): Int =
    (b(at) & 0xff) | ((b(at + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], at: Int): Long =
    (b(at) & 0xffL) | ((b(at + 1) & 0xffL) << 8) |
    ((b(at + 2) & 0xffL) << 16) | ((b(at + 3) & 0xffL) << 24)

  /** Parse one ZIP shard via its central directory. Returns
    * (members, clean): `false` means some structure failed verification
    * (no valid EOCD, signature/name/size/crc mismatch, truncation);
    * members verified before the damage are still returned. */
  def parseZip(fileName: String, bytes: Array[Byte]): (Seq[ZipEntry], Boolean) = {
    val (out, clean) = parseZipRetain(fileName, bytes, _ => false)
    (out.map(_._1), clean)
  }

  /** [[parseZip]] that additionally RETAINS the decompressed payload of
    * members whose name satisfies `retain` (others carry null) — the
    * hook container-of-container readers (docx = ZIP of XML) compose
    * on. Verification is identical; retention only affects what is
    * kept in memory, so the audited single-walk structure is shared,
    * not duplicated. */
  private[graft] def parseZipRetain(fileName: String, bytes: Array[Byte],
      retain: String => Boolean): (Seq[(ZipEntry, Array[Byte])], Boolean) = {
    val out = Seq.newBuilder[(ZipEntry, Array[Byte])]
    // EOCD backward scan: the record is 22 bytes + a comment of up to
    // 65535 bytes that must run EXACTLY to end-of-file — that terminal
    // condition disambiguates a signature quoted inside the comment.
    var eocd = -1
    var pos = bytes.length - 22
    val floor = math.max(0, bytes.length - 22 - 65535)
    while (eocd < 0 && pos >= floor) {
      if (u32(bytes, pos) == EocdSig && pos + 22 + u16(bytes, pos + 20) == bytes.length)
        eocd = pos
      pos -= 1
    }
    if (eocd < 0) return (Nil, false)
    val nEntries = u16(bytes, eocd + 10)
    val cdSize = u32(bytes, eocd + 12)
    val cdOff = u32(bytes, eocd + 16)
    // Single-disk archives only; the central directory must end exactly
    // where the EOCD begins.
    if (u16(bytes, eocd + 4) != 0 || u16(bytes, eocd + 6) != 0 ||
        u16(bytes, eocd + 8) != nEntries ||
        cdOff + cdSize != eocd.toLong) return (Nil, false)
    if (cdOff == 0xffffffffL || nEntries == 0xffff)
      return (Nil, false) // ZIP64 sentinel — out of scope, fail loudly

    var cd = cdOff.toInt
    var idx = 0
    while (idx < nEntries) {
      if (cd + 46 > eocd || u32(bytes, cd) != CdSig) return (out.result(), false)
      val flags = u16(bytes, cd + 8)
      val method = u16(bytes, cd + 10)
      val crc = u32(bytes, cd + 16)
      val csize = u32(bytes, cd + 20)
      val usize = u32(bytes, cd + 24)
      val nLen = u16(bytes, cd + 28)
      val xLen = u16(bytes, cd + 30)
      val cLen = u16(bytes, cd + 32)
      val lfhOff = u32(bytes, cd + 42)
      if (csize == 0xffffffffL || usize == 0xffffffffL || lfhOff == 0xffffffffL)
        return (out.result(), false) // ZIP64 sentinel
      if (cd + 46 + nLen + xLen + cLen > eocd) return (out.result(), false)
      val name = new String(bytes, cd + 46, nLen, "US-ASCII")
      // Seek the local header; its OWN name/extra lengths locate the
      // data (central extra fields routinely differ from local ones).
      val lo = lfhOff.toInt
      if (lo + 30 > bytes.length || u32(bytes, lo) != LfhSig) return (out.result(), false)
      val lFlags = u16(bytes, lo + 6)
      val lMethod = u16(bytes, lo + 8)
      val lnLen = u16(bytes, lo + 26)
      val lxLen = u16(bytes, lo + 28)
      // Bound the local name/extra reads BEFORE touching them: a corrupt
      // offset pointing near EOF with a large declared name length must
      // refuse (the salvage contract), not throw out of the task.
      if (lo + 30 + lnLen + lxLen > bytes.length) return (out.result(), false)
      if (lMethod != method || lFlags != flags ||
          new String(bytes, lo + 30, lnLen, "US-ASCII") != name)
        return (out.result(), false)
      val streamed = (flags & 0x8) != 0
      if (!streamed &&
          (u32(bytes, lo + 14) != crc || u32(bytes, lo + 18) != csize ||
           u32(bytes, lo + 22) != usize)) return (out.result(), false)
      val dataStart = lo + 30 + lnLen + lxLen
      if (dataStart + csize > bytes.length) return (out.result(), false)
      // Decompression-bomb guard: a shard-local member can't legitimately
      // claim a multi-GiB payload; refuse rather than allocate.
      if (usize > Int.MaxValue - 8L) return (out.result(), false)
      val raw = java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + csize.toInt)
      val payload: Array[Byte] = method match {
        case 0 =>
          if (csize != usize) return (out.result(), false)
          raw
        case 8 =>
          val inf = new java.util.zip.Inflater(true) // raw deflate, no zlib wrapper
          try {
            inf.setInput(raw)
            val dst = new Array[Byte](usize.toInt)
            var got = 0
            while (got < dst.length && !inf.finished()) {
              val n = inf.inflate(dst, got, dst.length - got)
              if (n == 0 && inf.needsInput()) return (out.result(), false) // truncated
              got += n
            }
            // Exact-length contract: the stream must END at usize bytes —
            // a longer stream means the central record lied.
            if (got != dst.length || { inf.inflate(new Array[Byte](1)) != 0 })
              return (out.result(), false)
            dst
          } catch {
            case _: java.util.zip.DataFormatException => return (out.result(), false)
          } finally inf.end()
        case _ => return (out.result(), false) // unsupported method: loud
      }
      if (streamed) {
        // The descriptor after the data must agree with the central
        // record (optional signature word allowed by the spec).
        val d0 = dataStart + csize.toInt
        val d = if (d0 + 4 <= bytes.length && u32(bytes, d0) == DescSig) d0 + 4 else d0
        if (d + 12 > bytes.length ||
            u32(bytes, d) != crc || u32(bytes, d + 4) != csize ||
            u32(bytes, d + 8) != usize) return (out.result(), false)
      }
      val c = new java.util.zip.CRC32
      c.update(payload)
      if (c.getValue != crc) return (out.result(), false)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(payload).map("%02x".format(_)).mkString
      out += ((ZipEntry(fileName, idx, name, method, usize, streamed, md),
        if (retain(name)) payload else null))
      cd += 46 + nLen + xLen + cLen
      idx += 1
    }
    // The walk must land exactly at the directory's declared end.
    (out.result(), cd == eocd)
  }

  /** Distributed member reader: one task per shard, one backward EOCD
    * scan + one central-directory walk per shard, codegen'd DataFrame
    * ops downstream. Loud-failure/salvage contract as [[TarSource]]. */
  def entries(spark: SparkSession, paths: Seq[String],
              tolerateUnclean: Boolean = false): DataFrame = {
    import spark.implicits._
    FileSources.framedShards(spark, paths, tolerateUnclean, FileSources.Unclean(
      "unverifiable ZIP structure", "members",
      "bad signature/name/size/crc, truncation or ZIP64"))(parseZip).toDF()
  }

  // ------------------------------------------------------------------
  // ZIP WRITER (fixture staging + a real sink primitive): spec-complete
  // local headers, central directory and EOCD, with computed CRC-32s.

  private def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private[graft] case class Member(name: String, payload: Array[Byte],
      deflate: Boolean, descriptor: Boolean, localExtra: Array[Byte])

  /** Build one archive; `orphanAfter` injects an un-indexed local entry
    * (header + data present, absent from the central directory) after
    * that member ordinal — the deleted-in-place layout. */
  private[graft] def archive(members: Seq[Member], comment: String,
      orphanAfter: Int = -1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val cds = Seq.newBuilder[Array[Byte]]
    def crc32(b: Array[Byte]): Long = {
      val c = new java.util.zip.CRC32; c.update(b); c.getValue
    }
    def deflateRaw(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      try {
        d.setInput(b); d.finish()
        val buf = new Array[Byte](math.max(64, b.length * 2 + 64))
        val out = new java.io.ByteArrayOutputStream()
        while (!d.finished()) out.write(buf, 0, d.deflate(buf))
        out.toByteArray
      } finally d.end()
    }
    def writeLocal(m: Member): Unit = {
      val nm = m.name.getBytes("US-ASCII")
      val data = if (m.deflate) deflateRaw(m.payload) else m.payload
      val crc = crc32(m.payload)
      val flags = if (m.descriptor) 0x8 else 0
      val off = bos.size()
      bos.write(le32(LfhSig)); bos.write(le16(20)); bos.write(le16(flags))
      bos.write(le16(if (m.deflate) 8 else 0))
      bos.write(le16(0)); bos.write(le16(0x21)) // fixed DOS time/date
      if (m.descriptor) { bos.write(le32(0)); bos.write(le32(0)); bos.write(le32(0)) }
      else { bos.write(le32(crc)); bos.write(le32(data.length)); bos.write(le32(m.payload.length)) }
      bos.write(le16(nm.length)); bos.write(le16(m.localExtra.length))
      bos.write(nm); bos.write(m.localExtra)
      bos.write(data)
      if (m.descriptor) {
        bos.write(le32(DescSig)); bos.write(le32(crc))
        bos.write(le32(data.length)); bos.write(le32(m.payload.length))
      }
      // Central record: extra field deliberately EMPTY (differs from the
      // local extra when one is present — locating data via the central
      // lengths must fail).
      val cd = new java.io.ByteArrayOutputStream()
      cd.write(le32(CdSig)); cd.write(le16(20)); cd.write(le16(20)); cd.write(le16(flags))
      cd.write(le16(if (m.deflate) 8 else 0))
      cd.write(le16(0)); cd.write(le16(0x21))
      cd.write(le32(crc)); cd.write(le32(data.length)); cd.write(le32(m.payload.length))
      cd.write(le16(nm.length)); cd.write(le16(0)); cd.write(le16(0))
      cd.write(le16(0)); cd.write(le16(0)); cd.write(le32(0))
      cd.write(le32(off))
      cd.write(nm)
      cds += cd.toByteArray
    }
    members.zipWithIndex.foreach { case (m, i) =>
      writeLocal(m)
      if (i == orphanAfter) {
        // Orphan: a fully valid local entry the central directory never
        // mentions — per spec NOT part of the archive.
        val ob = "not in the central directory".getBytes("US-ASCII")
        val nm = "orphan.bin".getBytes("US-ASCII")
        bos.write(le32(LfhSig)); bos.write(le16(20)); bos.write(le16(0))
        bos.write(le16(0)); bos.write(le16(0)); bos.write(le16(0x21))
        bos.write(le32(crc32(ob))); bos.write(le32(ob.length)); bos.write(le32(ob.length))
        bos.write(le16(nm.length)); bos.write(le16(0))
        bos.write(nm); bos.write(ob)
      }
    }
    val cdOff = bos.size()
    val cdBytes = cds.result()
    cdBytes.foreach(bos.write)
    val cdSize = bos.size() - cdOff
    val cm = comment.getBytes("US-ASCII")
    bos.write(le32(EocdSig)); bos.write(le16(0)); bos.write(le16(0))
    bos.write(le16(cdBytes.length)); bos.write(le16(cdBytes.length))
    bos.write(le32(cdSize)); bos.write(le32(cdOff))
    bos.write(le16(cm.length)); bos.write(cm)
    bos.toByteArray
  }

  // ---- Deterministic gate fixture (see SourceQueries.zip_ingest) ----
  //
  // 12 shard files; shard f carries 4 + (f % 3) members. Member i of
  // shard f (key = f·100+i):
  //   m{key}.txt — payload = decoy ++ "abc" * n, where
  //     decoy (i % 3 == 0 only) = "PK\3\4" — the local-header magic
  //       quoted INSIDE a payload, fatal to resync-by-signature parsers;
  //     n = 200 + (f·37 + i·13) % 500
  //   method: stored when i % 2 == 0, raw deflate otherwise;
  //   data descriptor (flag bit 3, zeroed local sizes) when i % 4 == 1;
  //   8-byte LOCAL-only extra field when i % 3 == 2 (central extra
  //     stays empty — central lengths locate the data wrongly).
  // Every shard plants one orphaned local entry after member 1 and a
  // non-empty EOCD comment. The DuckDB oracle re-generates the payload
  // model (names, sizes, md5s) with range()/repeat(); the compressed
  // bytes never reach the oracle — only decompressed identities do.

  def fixtureFiles(dir: String): Seq[String] =
    (0 until 12).map(f => f"$dir/part$f%02d.zip")

  private[graft] def fixtureArchive(f: Int): Array[Byte] = {
    val members = (0 until (4 + f % 3)).map { i =>
      val key = f * 100 + i
      val dcy = if (i % 3 == 0) "PK\u0003\u0004" else ""
      val n = 200 + (f * 37 + i * 13) % 500
      Member(
        name = s"m$key.txt",
        payload = (dcy + "abc" * n).getBytes("US-ASCII"),
        deflate = i % 2 != 0,
        descriptor = i % 4 == 1,
        localExtra = if (i % 3 == 2)
          Array[Byte](0x55, 0x78, 4, 0, 1, 2, 3, 4) else Array.emptyByteArray)
    }
    archive(members, s"graft zip shard $f", orphanAfter = 1)
  }

  def stageFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_ZIP_V1", fixtureFiles(dir))(fixtureArchive)
}
