package graft.sources

import graft.SparkSpec
import graft.sources.WarcSource.{parseWarc, WarcRecord}

/** Framing-level pins for the WARC parser: the oracle gate proves the
  * fixture round-trip; these prove the Content-Length discipline on
  * adversarial bytes the fixture cannot stage (truncation, corruption,
  * garbage) and the loud-failure contract of the distributed read.
  */
class WarcSourceSpec extends SparkSpec {

  private def rec(t: String, uri: Option[String], payload: String): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    head.append(s"WARC-Type: $t\r\n")
    head.append("WARC-Record-ID: <urn:uuid:x>\r\n")
    uri.foreach(u => head.append(s"WARC-Target-URI: $u\r\n"))
    head.append(s"Content-Length: ${payload.length}\r\n\r\n")
    head.toString.getBytes("US-ASCII") ++ payload.getBytes("US-ASCII") ++
      "\r\n\r\n".getBytes("US-ASCII")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("US-ASCII")).map("%02x".format(_)).mkString

  test("parses a multi-record file with exact lengths, md5s and indices") {
    val bytes = rec("warcinfo", None, "software: test\r\n") ++
      rec("response", Some("http://a/1"), "hello world") ++
      rec("response", Some("http://a/2"), "")
    val (rs, clean) = parseWarc("f", bytes)
    assert(clean)
    assert(rs == Seq(
      WarcRecord("f", 0, "warcinfo", "", 16, md5Hex("software: test\r\n")),
      WarcRecord("f", 1, "response", "http://a/1", 11, md5Hex("hello world")),
      WarcRecord("f", 2, "response", "http://a/2", 0, md5Hex(""))))
  }

  test("a payload containing WARC/1.0 header lines stays ONE record (framing, not magic-scan)") {
    val decoyBody = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 3\r\n\r\nxxx\r\n\r\n tail"
    val bytes = rec("response", Some("http://d/1"), decoyBody) ++
      rec("response", Some("http://d/2"), "after")
    val (rs, clean) = parseWarc("f", bytes)
    assert(clean)
    assert(rs.map(r => (r.idx, r.uri, r.payload_len)) ==
      Seq((0, "http://d/1", decoyBody.length.toLong), (1, "http://d/2", 5L)))
    assert(rs.head.payload_md5 == md5Hex(decoyBody))
  }

  test("truncated payload → unclean, records before the damage survive") {
    val good = rec("response", Some("http://t/1"), "complete")
    val bytes = good ++ rec("response", Some("http://t/2"), "cut").dropRight(6)
    val (rs, clean) = parseWarc("f", bytes)
    assert(!clean)
    assert(rs.map(_.uri) == Seq("http://t/1"))
  }

  test("a corrupted record-final CRLFCRLF halts parsing as unclean") {
    val a = rec("response", Some("http://c/1"), "aaa")
    a(a.length - 1) = 'X'.toByte // smash the final \n
    val bytes = a ++ rec("response", Some("http://c/2"), "bbb")
    val (rs, clean) = parseWarc("f", bytes)
    assert(!clean && rs.isEmpty)
  }

  test("garbage prefix, bad version line and oversized Content-Length all halt unclean") {
    assert(parseWarc("f", "not a warc at all\r\n".getBytes("US-ASCII")) == ((Nil, false)))
    assert(parseWarc("f", rec("response", None, "x").patch(5, "9.9".getBytes, 3))
      ._2 == false)
    val overLen = "WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 99999\r\n\r\nshort\r\n\r\n"
    assert(parseWarc("f", overLen.getBytes("US-ASCII")) == ((Nil, false)))
    // Empty input is trivially clean: zero records, nothing unframeable.
    assert(parseWarc("f", Array.emptyByteArray) == ((Nil, true)))
  }

  test("records() fails loudly on an unclean shard unless tolerateUnclean") {
    val dir = tempDir("graft_warc_spec_")
      .toFile.getAbsolutePath
    val good = s"$dir/good.warc"; val bad = s"$dir/bad.warc"
    java.nio.file.Files.write(java.nio.file.Paths.get(good),
      rec("response", Some("http://g/1"), "ok"))
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      rec("response", Some("http://b/1"), "broken").dropRight(2))
    val ex = intercept[org.apache.spark.SparkException] {
      WarcSource.records(spark, Seq(good, bad)).collect()
    }
    assert(ex.getMessage.contains("unframeable") ||
      Option(ex.getCause).exists(_.getMessage.contains("unframeable")))
    val salvaged = WarcSource.records(spark, Seq(good, bad), tolerateUnclean = true)
      .collect().map(_.getString(3)).sorted
    assert(salvaged.toSeq == Seq("http://g/1"))
  }

  test("parseHttpPayload splits status/headers/body and strips type parameters") {
    val msg = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      "X-Other: v\r\n\r\nbody text here"
    val Some((code, ctype, body)) = WarcSource.parseHttpPayload(
      msg.getBytes("US-ASCII")): @unchecked
    assert(code == 200 && ctype == "text/html")
    assert(new String(body, "US-ASCII") == "body text here")
    // Body may itself contain CRLFCRLF — only the FIRST split counts.
    val nested = "HTTP/1.1 404 Not Found\r\n\r\na\r\n\r\nb"
    val Some((c2, t2, b2)) = WarcSource.parseHttpPayload(
      nested.getBytes("US-ASCII")): @unchecked
    assert(c2 == 404 && t2 == "" && new String(b2, "US-ASCII") == "a\r\n\r\nb")
  }

  test("parseHttpPayload rejects non-HTTP payloads") {
    for (bad <- Seq("no split at all", "not http\r\n\r\nbody",
        "HTTP/1.1 abc OK\r\n\r\nx", "HTTP/1.1\r\n\r\nx"))
      assert(WarcSource.parseHttpPayload(bad.getBytes("US-ASCII")).isEmpty, bad)
  }

  test("chunked transfer-encoding de-chunks to the identity body") {
    def msg(body: String): Array[Byte] =
      ("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n" +
        "Transfer-Encoding: chunked\r\n\r\n" + body).getBytes("US-ASCII")
    // 3-byte + 5-byte chunks with an extension and a trailer.
    val ok = msg("3;x=1\r\nabc\r\n5\r\ndefgh\r\n0\r\nX-T: v\r\n\r\n")
    val Some((code, _, body)) = WarcSource.parseHttpPayload(ok): @unchecked
    assert(code == 200 && new String(body, "US-ASCII") == "abcdefgh")
    // The list TE form ("gzip, chunked") still routes to the chunk parser.
    val listed = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: foo, chunked\r\n\r\n" +
      "2\r\nhi\r\n0\r\n\r\n").getBytes("US-ASCII")
    assert(WarcSource.parseHttpPayload(listed)
      .exists(r => new String(r._3, "US-ASCII") == "hi"))
    // Malformed framings refuse: bad hex, missing data CRLF, truncated
    // data, garbage after the terminator, missing terminator.
    for (bad <- Seq(
        "zz\r\nabc\r\n0\r\n\r\n",
        "3\r\nabcX5\r\ndefgh\r\n0\r\n\r\n",
        "9\r\nabc\r\n0\r\n\r\n",
        "3\r\nabc\r\n0\r\n\r\nEXTRA",
        "3\r\nabc\r\n"))
      assert(WarcSource.parseHttpPayload(msg(bad)).isEmpty, bad)
    // Without the TE header the same bytes are an identity body — the
    // header is what licenses chunk decoding.
    val plain = ("HTTP/1.1 200 OK\r\n\r\n3\r\nabc\r\n0\r\n\r\n").getBytes("US-ASCII")
    assert(WarcSource.parseHttpPayload(plain)
      .exists(r => new String(r._3, "US-ASCII") == "3\r\nabc\r\n0\r\n\r\n"))
  }

  test("httpResponses extracts only response records that parse as HTTP") {
    val dir = tempDir("graft_warc_http_spec_")
      .toFile.getAbsolutePath
    val f = s"$dir/mix.warc"
    val bytes =
      rec("request", Some("http://x/1"), "GET\r\n") ++
      rec("response", Some("http://x/1"),
        "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\none two  three") ++
      rec("response", Some("http://x/2"), "raw non-http payload")
    java.nio.file.Files.write(java.nio.file.Paths.get(f), bytes)
    val rows = WarcSource.httpResponses(spark, Seq(f)).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("uri") == "http://x/1" &&
      r.getAs[Int]("status") == 200 &&
      r.getAs[String]("media_type") == "text/plain" &&
      r.getAs[Long]("body_tokens") == 3L) // double space yields no empty token
  }

  test("the staged fixture round-trips: 24 clean shards, 156 responses, decoys intact") {
    val dir = tempDir("graft_warc_fix_")
      .toFile.getAbsolutePath
    val paths = WarcSource.stageFixture(dir)
    assert(paths.size == 24)
    val all = paths.zipWithIndex.map { case (p, f) =>
      val (rs, clean) = parseWarc(s"shard$f", java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)))
      assert(clean, s"shard $f unclean")
      rs
    }
    val responses = all.flatten.filter(_.rec_type == "response")
    assert(responses.size == 156) // Σ (5 + f%4) over 24 files
    // Every response length matches the closed-form model exactly,
    // including the 20-byte decoy prefix on i%3==0 (idx = 2+2i).
    responses.foreach { r =>
      val f = r.file.stripPrefix("shard").toInt
      val i = (r.idx - 2) / 2
      val expect = 40 + ((f * 31 + i * 7) % 100) + (if (i % 3 == 0) 20 else 0)
      assert(r.payload_len == expect, s"shard $f response $i: ${r.payload_len} != $expect")
    }
    // Restaging is a no-op (marker) and bytes are reproducible.
    val before = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(paths.head))
    WarcSource.stageFixture(dir)
    val after = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(paths.head))
    assert(java.util.Arrays.equals(before, after))
  }

  test("multi-member gunzip: per-record members decompress to the plain shard") {
    // The Common Crawl layout: one gzip member PER RECORD, concatenated.
    // gunzipAll must consume every member; the result must be byte-equal
    // to the plain shard, so the strict framing parse is unchanged.
    for (f <- Seq(0, 7, 23)) {
      val plain = WarcSource.fixtureShard(f)
      val gz = WarcSource.fixtureShardRecords(f)
        .map(WarcSource.gzipMember).reduce(_ ++ _)
      val (got, clean) = WarcSource.gunzipAll(gz)
      assert(clean && java.util.Arrays.equals(got, plain), s"shard $f")
      // and a single whole-shard member decompresses identically too
      val (got1, clean1) = WarcSource.gunzipAll(WarcSource.gzipMember(plain))
      assert(clean1 && java.util.Arrays.equals(got1, plain))
    }
  }

  test("gunzip is LOUD about damage GZIPInputStream swallows silently") {
    // The failure modes the custom member walk exists for: a garbled
    // next-member header, trailing garbage, a mid-member truncation and
    // a flipped CRC must all flag unclean while salvaging exactly the
    // intact member prefix — never a silent short read, never a throw.
    val recs = WarcSource.fixtureShardRecords(3).map(WarcSource.gzipMember)
    val full = recs.reduce(_ ++ _)
    val firstTwo = WarcSource.gunzipAll(recs(0) ++ recs(1))._1
    // garbled third member header (magic byte flipped)
    val badHdr = full.clone()
    badHdr(recs(0).length + recs(1).length) = 0x55.toByte
    assert(WarcSource.gunzipAll(badHdr) match {
      case (prefix, false) => java.util.Arrays.equals(prefix, firstTwo)
      case other => fail(s"garbled header not flagged: clean=${other._2}")
    })
    // trailing garbage after the last member
    val trailing = full ++ Array[Byte](1, 2, 3)
    assert(!WarcSource.gunzipAll(trailing)._2)
    assert(java.util.Arrays.equals(WarcSource.gunzipAll(trailing)._1,
      WarcSource.gunzipAll(full)._1))
    // truncation mid-member: salvage = all complete members before it
    val cut = full.dropRight(recs.last.length / 2)
    val (cutPrefix, cutClean) = WarcSource.gunzipAll(cut)
    assert(!cutClean)
    assert(java.util.Arrays.equals(cutPrefix,
      WarcSource.gunzipAll(recs.dropRight(1).reduce(_ ++ _))._1))
    // flipped CRC byte in the second member's trailer
    val badCrc = full.clone()
    badCrc(recs(0).length + recs(1).length - 8) =
      (badCrc(recs(0).length + recs(1).length - 8) ^ 0x01).toByte
    val (crcPrefix, crcClean) = WarcSource.gunzipAll(badCrc)
    assert(!crcClean)
    assert(java.util.Arrays.equals(crcPrefix, WarcSource.gunzipAll(recs(0))._1))
  }

  test("multi-frame unzstd: per-record frames + skippable slot decompress to the plain shard") {
    // The .warc.zst layout: a leading skippable (dictionary-slot) frame,
    // then one checksummed zstd frame per record. unzstdAll must walk
    // every frame, emit NOTHING for the skippable one, and reproduce the
    // plain shard byte-for-byte.
    for (f <- Seq(0, 7, 23)) {
      val plain = WarcSource.fixtureShard(f)
      val zs = (WarcSource.skippableFrame(s"graft-dict-slot-$f".getBytes("US-ASCII")) +:
        WarcSource.fixtureShardRecords(f).map(WarcSource.zstFrame)).reduce(_ ++ _)
      val (got, clean) = WarcSource.unzstdAll(zs)
      assert(clean && java.util.Arrays.equals(got, plain), s"shard $f")
      // a single whole-shard frame decompresses identically too
      val (got1, clean1) = WarcSource.unzstdAll(WarcSource.zstFrame(plain))
      assert(clean1 && java.util.Arrays.equals(got1, plain))
      // skippable frames may appear anywhere between data frames
      val mid = WarcSource.zstFrame(plain) ++
        WarcSource.skippableFrame(Array[Byte](9)) ++ WarcSource.zstFrame(plain)
      val (got2, clean2) = WarcSource.unzstdAll(mid)
      assert(clean2 && java.util.Arrays.equals(got2, plain ++ plain))
    }
  }

  test("unzstd is LOUD about frame damage: magic, truncation, checksum, trailing junk") {
    val recs = WarcSource.fixtureShardRecords(3).map(WarcSource.zstFrame)
    val full = recs.reduce(_ ++ _)
    val firstTwo = WarcSource.unzstdAll(recs(0) ++ recs(1))._1
    // garbled third frame magic: salvage exactly the first two frames
    val badMagic = full.clone()
    badMagic(recs(0).length + recs(1).length) = 0x55.toByte
    assert(WarcSource.unzstdAll(badMagic) match {
      case (prefix, false) => java.util.Arrays.equals(prefix, firstTwo)
      case other => fail(s"garbled magic not flagged: clean=${other._2}")
    })
    // trailing garbage after the last frame
    val trailing = full ++ Array[Byte](1, 2, 3)
    assert(!WarcSource.unzstdAll(trailing)._2)
    assert(java.util.Arrays.equals(WarcSource.unzstdAll(trailing)._1,
      WarcSource.unzstdAll(full)._1))
    // truncation mid-frame: salvage = all complete frames before it
    val cut = full.dropRight(recs.last.length / 2)
    val (cutPrefix, cutClean) = WarcSource.unzstdAll(cut)
    assert(!cutClean)
    assert(java.util.Arrays.equals(cutPrefix,
      WarcSource.unzstdAll(recs.dropRight(1).reduce(_ ++ _))._1))
    // a flipped PAYLOAD byte inside the second frame: the embedded
    // content checksum catches what a checksum-less frame would let
    // through as mangled bytes
    val badBody = full.clone()
    badBody(recs(0).length + recs(1).length / 2) =
      (badBody(recs(0).length + recs(1).length / 2) ^ 0x5a).toByte
    val (ckPrefix, ckClean) = WarcSource.unzstdAll(badBody)
    assert(!ckClean)
    assert(java.util.Arrays.equals(ckPrefix, WarcSource.unzstdAll(recs(0))._1))
    // a skippable frame whose declared size overruns the buffer
    val badSkip = WarcSource.skippableFrame(Array[Byte](1, 2, 3)).dropRight(2)
    assert(!WarcSource.unzstdAll(recs(0) ++ badSkip)._2)
  }

  test("CDX index: slices re-parse, records tile the shard, damage is caught") {
    val bytes = WarcSource.fixtureShard(3)
    val (entries, clean) = WarcSource.parseCdx("shard03.warc", bytes)
    assert(clean && entries.nonEmpty)
    assert(entries.forall(_.seek_ok), "every indexed slice must re-parse")
    // entries tile the shard end to end
    assert(entries.head.rec_offset == 0L)
    assert(entries.map(_.rec_length).sum == bytes.length.toLong)
    entries.sliding(2).foreach {
      case Seq(a, b) => assert(a.rec_offset + a.rec_length == b.rec_offset)
      case _ => ()
    }
    // the CDX rows agree with the record parse on identity fields
    val (recs, _) = WarcSource.parseWarc("shard03.warc", bytes)
    assert(entries.map(e => (e.idx, e.rec_type, e.uri, e.payload_md5)) ==
      recs.map(r => (r.idx, r.rec_type, r.uri, r.payload_md5)))
    // junk INSERTED between records breaks the walk loudly (no silent
    // re-sync — offsets downstream of the junk would all be wrong)
    val mid = (entries(1).rec_offset + entries(1).rec_length).toInt
    val gapped = bytes.take(mid) ++ "JUNK".getBytes("US-ASCII") ++ bytes.drop(mid)
    val (salvaged, gClean) = WarcSource.parseCdx("shard03.warc", gapped)
    assert(!gClean && salvaged.length == 2, "junk between records must halt the walk")
    // a manually corrupted offset cannot pass the slice re-parse (the
    // audit a consumer's range request relies on)
    val shifted = entries(2).copy(rec_offset = entries(2).rec_offset + 1)
    val badSlice = java.util.Arrays.copyOfRange(bytes,
      shifted.rec_offset.toInt, (shifted.rec_offset + shifted.rec_length).toInt)
    assert(WarcSource.parseWarc("s", badSlice)._1.isEmpty
      || WarcSource.parseWarc("s", badSlice)._2 == false)
  }

  test("dictionary-slot frames: loaded, applied, and LOUD when skipped or damaged") {
    val recs = WarcSource.fixtureShardRecords(5)
    val plain = recs.reduce(_ ++ _)
    val dict = WarcSource.trainZstDict(recs)
    val dictFrames = recs.map(WarcSource.zstFrameDict(_, dict))
    // raw dict in the spec's 0x184D2A5D slot
    val rawSlot = WarcSource.skippableFrame(dict, WarcSource.ZstDictSlotMagic)
    val (got, clean) = WarcSource.unzstdAll(rawSlot ++ dictFrames.reduce(_ ++ _))
    assert(clean && java.util.Arrays.equals(got, plain))
    // the spec's optional form: the dictionary itself zstd-compressed
    val zSlot = WarcSource.skippableFrame(
      WarcSource.zstFrame(dict), WarcSource.ZstDictSlotMagic)
    val (got2, clean2) = WarcSource.unzstdAll(zSlot ++ dictFrames.reduce(_ ++ _))
    assert(clean2 && java.util.Arrays.equals(got2, plain))
    // a reader-visible NON-dict skippable slot (the naive "skip
    // everything skippable" behavior) leaves the dictID unresolved:
    // every record frame must fail LOUDLY, salvaging nothing
    val skippedSlot = WarcSource.skippableFrame(dict) // generic 0x184D2A50
    val (got3, clean3) = WarcSource.unzstdAll(skippedSlot ++ dictFrames.reduce(_ ++ _))
    assert(!clean3 && got3.isEmpty,
      "dict-compressed frames without a LOADED dictionary must refuse, not emit garbage")
    // a corrupted dictionary payload refuses at the load (or fails every
    // frame's dictID) — never mangled records
    val badDict = dict.clone()
    for (k <- 8 until 24) badDict(k) = (badDict(k) ^ 0x5a).toByte
    val badSlot = WarcSource.skippableFrame(badDict, WarcSource.ZstDictSlotMagic)
    val (got4, clean4) = WarcSource.unzstdAll(badSlot ++ dictFrames.reduce(_ ++ _))
    assert(!clean4 && got4.isEmpty)
    // mixed stream: plain frames BEFORE the slot decode dict-less;
    // dict frames after it decode with the dict
    val mixed = WarcSource.zstFrame(recs.head) ++ rawSlot ++ dictFrames(1)
    val (got5, clean5) = WarcSource.unzstdAll(mixed)
    assert(clean5 && java.util.Arrays.equals(got5, recs.head ++ recs(1)))
    // the economics claim: dict frames are smaller than solo frames on
    // the fixture's small records (that is what the slot exists for)
    val solo = recs.map(r => WarcSource.zstFrame(r).length.toLong).sum
    val withDict = dictFrames.map(_.length.toLong).sum
    assert(withDict < solo,
      s"dictionary must pay on small records: dict=$withDict solo=$solo")
  }

  test("streaming WARC arrival equals the batch reader row-for-row") {
    // warc_ingest_live's claim at the record level (the oracle pins the
    // aggregate): the binaryFile FileStreamSource → parse → append-sink
    // pipeline yields exactly the batch reader's record set.
    val dir = tempDir("warc_live_spec").toString
    val paths = WarcSource.stageFixture(dir)
    def key(r: org.apache.spark.sql.Row) = r.getValuesMap[Any](
      Seq("file", "idx", "rec_type", "uri", "payload_len", "payload_md5"))
    val batch = WarcSource.records(spark, paths).collect().map(key).toSet
    val live = graft.streaming.EventStreams.warcRecordsLive(spark, paths)
      .collect().map(key).toSet
    assert(live == batch)
    assert(batch.size == 24 + 2 * 156) // warcinfo + request/response pairs
  }

  test("charsetParam: quoted, mixed-case, spaced, absent, other params") {
    import WarcSource.charsetParam
    assert(charsetParam("text/html; charset=utf-8") == Some("utf-8"))
    assert(charsetParam("text/plain; Charset=\"UTF-8\"") == Some("utf-8"))
    assert(charsetParam("text/plain;charset = ISO-8859-1 ") == Some("iso-8859-1"))
    assert(charsetParam("text/plain; boundary=x; charset=shift_jis; q=1")
      == Some("shift_jis"))
    assert(charsetParam("text/plain") == None)
    assert(charsetParam("text/plain; boundary=charsetish") == None)
    assert(charsetParam("text/plain; charset=\"\"") == None)
  }

  test("decodeBody: the mojibake trap — declared legacy charsets must not decode as UTF-8") {
    import WarcSource.decodeBody
    // 'café €' in windows-1252: é=0xE9, €=0x80 — a UTF-8-only reader
    // turns both into U+FFFD (or worse, a wrong letter via latin-1).
    val cp1252 = "café €".getBytes("windows-1252")
    assert(decodeBody(cp1252, Some("windows-1252")) == ("café €", "windows-1252"))
    val naive = new String(cp1252, "UTF-8") // what the old path produced
    assert(naive.contains('�') && naive != "café €")
    // Declared charsets that lie still decode deterministically (REPLACE).
    val (lied, usedLied) = decodeBody(Array[Byte](0x41, 0xff.toByte, 0x42), Some("utf-8"))
    assert(lied == "A�B" && usedLied == "utf-8")
  }

  test("decodeBody fallback: strict UTF-8 first, then windows-1252") {
    import WarcSource.decodeBody
    // Valid multibyte UTF-8 with NO declared charset decodes as UTF-8 —
    // a straight-to-windows-1252 fallback would mojibake é to Ã©.
    val utf8 = "héllo".getBytes("UTF-8")
    assert(decodeBody(utf8, None) == ("héllo", "utf-8"))
    // Invalid UTF-8 (a lone 0xE9) falls back to windows-1252.
    val legacy = "café!".getBytes("windows-1252")
    assert(decodeBody(legacy, None) == ("café!", "windows-1252"))
    // An unsupported label behaves like an absent one.
    assert(decodeBody(utf8, Some("x-graft-bogus")) == ("héllo", "utf-8"))
    assert(decodeBody(legacy, Some("x-graft-bogus")) == ("café!", "windows-1252"))
  }

  test("httpTexts decodes the staged charset fixture per its model") {
    val dir = tempDir("warc_cs_spec").toString
    val paths = WarcSource.stageCharsetFixture(dir)
    val rows = WarcSource.httpTexts(spark, paths).collect()
    assert(rows.length == 8 * 7)
    rows.foreach { r =>
      val uri = r.getAs[String]("uri")
      val m = "http://cs.example/f(\\d+)/c(\\d+)".r.findFirstMatchIn(uri).get
      val (f, i) = (m.group(1).toInt, m.group(2).toInt)
      val want = WarcSource.charsetText(f, i)
      assert(r.getAs[String]("text") == want, s"$uri decoded wrong")
      assert(r.getAs[Long]("n_chars") == want.length.toLong, uri)
    }
    // Case 3 (Shift_JIS) really is multibyte: its byte length differs
    // from its char count — the decode is doing work, not passing bytes.
    val sj = rows.find(_.getAs[String]("uri").endsWith("/c3")).get
    assert(sj.getAs[String]("used") == "shift_jis")
    assert(sj.getAs[String]("text").getBytes("Shift_JIS").length >
      sj.getAs[Long]("n_chars"))
  }
}

/** Randomized framing model-checks: parse(build(records)) must recover
  * every record regardless of payload content (including payloads that
  * impersonate WARC headers or contain CRLFCRLF), and any end-truncation
  * must flag unclean while salvaging exactly the undamaged prefix. */
object WarcFramingProps extends org.scalacheck.Properties("warcFraming") {
  import org.scalacheck.{Gen, Prop}

  private def rec(t: String, uri: Option[String], payload: Array[Byte]): Array[Byte] = {
    val head = new StringBuilder("WARC/1.0\r\n")
    head.append(s"WARC-Type: $t\r\n")
    head.append("WARC-Record-ID: <urn:uuid:x>\r\n")
    uri.foreach(u => head.append(s"WARC-Target-URI: $u\r\n"))
    head.append(s"Content-Length: ${payload.length}\r\n\r\n")
    head.toString.getBytes("US-ASCII") ++ payload ++ "\r\n\r\n".getBytes("US-ASCII")
  }

  private val recGen: Gen[(String, Option[String], Array[Byte])] = for {
    t <- Gen.oneOf("response", "request", "warcinfo", "metadata")
    uri <- Gen.option(Gen.alphaNumStr.map(s => s"http://x/$s"))
    // Payloads biased toward the dangerous shapes: raw bytes, embedded
    // CRLFCRLF, and full fake record headers.
    payload <- Gen.oneOf(
      Gen.listOf(Gen.chooseNum(0, 255).map(_.toByte)).map(_.toArray),
      Gen.alphaNumStr.map(s => s"$s\r\n\r\n$s".getBytes("US-ASCII")),
      Gen.alphaNumStr.map(s =>
        s"WARC/1.0\r\nContent-Length: 3\r\n\r\n$s".getBytes("US-ASCII")))
  } yield (t, uri, payload)

  property("randomized record sequences round-trip through the framing walk") =
    Prop.forAll(Gen.listOf(recGen)) { recs =>
      val bytes = recs.map { case (t, uri, p) => rec(t, uri, p) }
        .foldLeft(Array.emptyByteArray)(_ ++ _)
      val (parsed, clean) = WarcSource.parseWarc("f", bytes)
      clean && parsed.size == recs.size &&
        parsed.zip(recs).forall { case (got, (t, uri, p)) =>
          got.rec_type == t && got.uri == uri.getOrElse("") &&
            got.payload_len == p.length
        }
    }

  property("chunk framing round-trips arbitrary bodies under arbitrary splits") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.chooseNum(0, 255).map(_.toByte)).map(_.toArray),
      Gen.nonEmptyListOf(Gen.chooseNum(1, 16))) { (body, sizes) =>
      // Encode `body` as chunks cycling through `sizes`, decode through
      // the full HTTP path, require bit-identical reassembly.
      val out = new java.io.ByteArrayOutputStream()
      def ascii(s: String): Unit = out.write(s.getBytes("US-ASCII"), 0, s.length)
      ascii("HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n")
      var p = 0; var k = 0
      while (p < body.length) {
        val n = math.min(sizes(k % sizes.size), body.length - p)
        ascii(java.lang.Long.toHexString(n.toLong) + "\r\n")
        out.write(body, p, n); ascii("\r\n")
        p += n; k += 1
      }
      ascii("0\r\n\r\n")
      WarcSource.parseHttpPayload(out.toByteArray)
        .exists(r => java.util.Arrays.equals(r._3, body))
    }

  property("end-truncation flags unclean and salvages exactly the undamaged prefix") =
    Prop.forAll(Gen.nonEmptyListOf(recGen), Gen.chooseNum(1, 40)) { (recs, k) =>
      val bytes = recs.map { case (t, uri, p) => rec(t, uri, p) }
        .foldLeft(Array.emptyByteArray)(_ ++ _)
      val (full, _) = WarcSource.parseWarc("f", bytes)
      val cut = bytes.dropRight(math.min(k, bytes.length))
      val (part, clean) = WarcSource.parseWarc("f", cut)
      // Dropping 1..40 bytes always damages only the LAST record (the
      // fixed header alone exceeds 40 bytes), so the walk must flag
      // unclean and keep exactly the records before it.
      !clean && part.size == full.size - 1 && part == full.dropRight(1)
    }
}
