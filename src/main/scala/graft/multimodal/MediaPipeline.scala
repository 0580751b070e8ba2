package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north star, BASELINE.json).
  *
  * Images/audio/video are carried as opaque `binary` columns plus typed
  * metadata structs — the standard lakehouse pattern. The Spark-side
  * machinery here is real (schema, typed Dataset, partition-batched
  * processing via mapPartitions — the Scala analogue of a Pandas-UDF
  * `mapInPandas` batch loop), and the decode step is real for three
  * container formats: BMP headers (54-byte BITMAPINFOHEADER,
  * little-endian), canonical PCM WAV headers (44-byte RIFF/WAVE,
  * little-endian) and PNG signature+IHDR (33 bytes, BIG-endian with a
  * verified CRC-32) are parsed from actual bytes — pure JVM, no codec
  * library needed. JPEG dims come from a real SOF MARKER WALK past
  * variable-length segments, and MP4/ISO-BMFF movie metadata from a real
  * recursive BOX WALK (ftyp brand + moov/mvhd timescale+duration,
  * including the version-1 64-bit and largesize forms) — both still pure
  * JVM, because container METADATA never needs a codec. Only pixel/
  * sample DECODE (entropy-coded scans, IDAT inflate, mdat codecs) falls
  * back to the deterministic stub, because no codec libraries exist in
  * this container.
  *
  * Scale notes: decode is a map-only pass — no shuffle; partition sizing
  * is governed by `spark.sql.files.maxPartitionBytes`, and a real decoder
  * would be limited by per-executor memory for frame buffers, which the
  * iterator-based batch loop (one element materialized at a time) respects.
  */
object MediaPipeline {

  /** A row carrying an opaque media payload. */
  case class MediaRow(doc_id: Long, source: String, media: Array[Byte])

  /** Typed metadata the decoder extracts per payload. */
  case class MediaMeta(doc_id: Long, source: String, bytes: Long,
                       width: Int, height: Int, n_frames: Int)

  /** STUB decoder — deterministic fake derived from the payload length,
    * for payloads in no recognized container format. All six container
    * formats the corpus stages (BMP, PNG, GIF, JPEG, WAV, MP4) have REAL
    * metadata parses; the uncompressed formats (24-bit BMP, PPM P6,
    * 16-bit PCM WAV) AND the losslessly-compressed ones (PNG —
    * inflate + unfilter, [[decodePngPixels]]; GIF — LZW,
    * [[decodeGifPixels]]) have REAL pixel/sample decodes too. The stub
    * remains only for bare payloads and for entropy-coded media (JPEG
    * scan data, MP4 codecs) whose decode is not bit-deterministic across
    * implementations (see NOTES.md) — the fake keeps every downstream
    * query runnable AND oracle-checkable. */
  def decodeStub(media: Array[Byte]): (Int, Int, Int) = {
    val n = media.length
    ((n % 640) + 16, ((n * 7) % 480) + 16, (n % 30) + 1)
  }

  /** REAL header parse for the BMP container (BITMAPFILEHEADER +
    * BITMAPINFOHEADER, 54 bytes): little-endian i32 width at offset 18,
    * height at 22 (|height| — top-down BMPs store it negative), one frame.
    *
    * Validation is strict on purpose: beyond the 'BM' magic it requires
    * pixel-offset 54 (offset 10), infoheader size 40 (offset 14) and
    * planes 1 (offset 26). Those fields force zero bytes at offsets
    * 11-13, 15-17 and 27, which no ASCII payload (bytes 0x20-0x7e) can
    * contain — so a text document that happens to start with "BM" can
    * never be misparsed as an image (the raw-payload queries rely on
    * this: their oracles model the stub arithmetic). */
  def decodeBmp(media: Array[Byte]): Option[(Int, Int, Int)] = {
    def i32(off: Int): Int =
      (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8) |
        ((media(off + 2) & 0xff) << 16) | ((media(off + 3) & 0xff) << 24)
    def i16(off: Int): Int = (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8)
    if (media.length >= BmpHeaderLen &&
        media(0) == 'B'.toByte && media(1) == 'M'.toByte &&
        i32(10) == BmpHeaderLen && i32(14) == 40 && i16(26) == 1 &&
        // Dimension sanity (round-10 ADVICE): width 0/negative or height 0
        // passing the magic checks would flow Infinity/negative dims into
        // mm_resize_plan's 224.0/width — reject like decodeWav does.
        i32(18) > 0 && i32(22) != 0)
      Some((i32(18), math.abs(i32(22)), 1))
    else None
  }

  /** Dispatching decoder: real BMP, PNG and JPEG header parses, stub for
    * everything else. (WAV payloads go through [[decodeWav]] on the audio
    * decode pass — audio metadata doesn't fit the image
    * width/height/frames shape.) */
  def decodeMedia(media: Array[Byte]): (Int, Int, Int) =
    decodeBmp(media)
      .orElse(decodePng(media).map { case (w, h, _, _) => (w, h, 1) })
      .orElse(decodeJpeg(media).map { case (w, h, _, _) => (w, h, 1) })
      .getOrElse(decodeStub(media))

  /** BMP container size: 14-byte file header + 40-byte BITMAPINFOHEADER. */
  val BmpHeaderLen = 54

  /** A VALID 54-byte BMP header declaring `width`×`height` (24-bit,
    * uncompressed) over a `payloadLen`-byte body — what the fixture
    * staging prepends so [[decodeBmp]] has real bytes to parse. */
  def bmpHeader(width: Int, height: Int, payloadLen: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(BmpHeaderLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte)
      .putInt(BmpHeaderLen + payloadLen) // file size
      .putInt(0)                         // reserved
      .putInt(BmpHeaderLen)              // pixel data offset
      .putInt(40)                        // BITMAPINFOHEADER size
      .putInt(width).putInt(height)
      .putShort(1)                       // planes
      .putShort(24)                      // bits per pixel
      .putInt(0)                         // BI_RGB (uncompressed)
      .putInt(payloadLen)                // image size
      .putInt(2835).putInt(2835)         // 72 dpi in px/metre
      .putInt(0).putInt(0)               // palette sizes
    b.array()
  }

  /** The staged BMP dimensions for doc `id` — pure doc_id arithmetic so
    * the DuckDB oracle can replicate what the staging WROTE while Spark
    * re-derives it by PARSING the header bytes (the gate proves the
    * parse: a wrong offset or endianness breaks the hash match). */
  def bmpWidth(id: Long): Int = ((id % 600) + 20).toInt
  def bmpHeight(id: Long): Int = (((id * 3) % 400) + 20).toInt

  /** PNG container prefix: 8-byte signature + IHDR chunk (4-byte
    * big-endian length, 4-byte "IHDR" type, 13 data bytes, 4-byte CRC). */
  val PngHeaderLen = 33

  /** REAL header parse for the PNG container — the third format, and the
    * OPPOSITE endianness of BMP/WAV: width/height are BIG-endian u32 at
    * offsets 16/20 (after the 8-byte signature and the IHDR chunk's
    * length+type), bit depth at 24, color type at 25.
    *
    * Strict validation: the full 8-byte signature (0x89 'P' 'N' 'G' CR LF
    * SUB LF — byte 0 is non-ASCII, so no text payload can ever reach the
    * parse), IHDR length exactly 13 (forcing zero bytes at offsets 8-10),
    * type "IHDR", compression and filter bytes 0 (offsets 26-27), AND the
    * IHDR CRC-32 verified over type+data bytes 12..28 — a flipped header
    * byte fails the checksum, not just the magic. Positive dimensions
    * required (PNG spec: zero is invalid). */
  def decodePng(media: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def u32(off: Int): Long =
      ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
        ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    if (media.length >= PngHeaderLen &&
        sig.indices.forall(i => media(i) == sig(i)) &&
        u32(8) == 13L && "IHDR".indices.forall(i => media(12 + i) == "IHDR".charAt(i).toByte) &&
        media(26) == 0 && media(27) == 0) {
      val crc = new java.util.zip.CRC32
      crc.update(media, 12, 17) // type (4) + IHDR data (13)
      val w = u32(16)
      val h = u32(20)
      if (crc.getValue == u32(29) && w > 0 && h > 0 &&
          w <= Int.MaxValue && h <= Int.MaxValue)
        Some((w.toInt, h.toInt, media(24) & 0xff, media(25) & 0xff))
      else None
    } else None
  }

  /** A VALID 33-byte PNG signature + IHDR chunk (8-bit RGBA, real CRC-32)
    * declaring `width`×`height` — what the fixture staging prepends so
    * [[decodePng]] has real big-endian bytes (and a real checksum) to
    * parse. The payload that follows is not a valid IDAT stream, but the
    * metadata path never reads past the IHDR — exactly the contract a
    * header-only probe (e.g. `file`, image sniffers) uses. */
  def pngHeader(width: Int, height: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(PngHeaderLen) // big-endian default
    b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      .putInt(13)                        // IHDR data length
      .put("IHDR".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .putInt(width).putInt(height)
      .put(8.toByte)                     // bit depth
      .put(6.toByte)                     // color type: truecolor + alpha
      .put(0.toByte).put(0.toByte)       // compression, filter
      .put(0.toByte)                     // no interlace
    val crc = new java.util.zip.CRC32
    crc.update(b.array(), 12, 17)
    b.putInt(crc.getValue.toInt)
    b.array()
  }

  /** The staged PNG dimensions for doc `id` — pure doc_id arithmetic so
    * the DuckDB oracle can replicate what the staging WROTE while Spark
    * re-derives it by PARSING the big-endian header bytes (a wrong offset
    * or a little-endian read breaks the hash match). */
  def pngWidth(id: Long): Int = (((id * 5) % 512) + 16).toInt
  def pngHeight(id: Long): Int = (((id * 11) % 384) + 16).toInt

  /** Typed PNG metadata [[decodePng]] extracts per payload. */
  case class PngMeta(doc_id: Long, source: String, bytes: Long,
                     width: Int, height: Int, bit_depth: Int, color_type: Int)

  /** PNG decode pass over the mixed container-staged corpus: rows whose
    * bytes parse (signature + IHDR + CRC) yield [[PngMeta]]; everything
    * else — bare payloads AND the BMP-staged rows — is dropped by the
    * flatMap. The parse itself is the filter, same contract as
    * [[decodedWav]]. */
  def decodedPng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodePng(r.media).map { case (w, h, depth, color) =>
          PngMeta(r.doc_id, r.source, r.media.length.toLong, w, h, depth, color)
        }
      })
      .toDF()
  }

  /** JPEG/JFIF container prefix the fixture staging writes: SOI + APP0
    * (JFIF, 16-byte length) + COM ("graft", 7-byte length) + SOF0
    * (baseline, 3 components) = 48 bytes. The COM segment is there on
    * purpose: [[decodeJpeg]] must WALK past variable segments to find the
    * SOF, so a fixed-offset "parse" would fail the gate. */
  val JpegHeaderLen = 48

  /** REAL metadata parse for the JPEG container — the fourth format, and
    * the first needing a MARKER WALK rather than fixed offsets: a JPEG is
    * SOI (0xFFD8) followed by variable-length segments (0xFF marker +
    * big-endian u16 length including the length bytes), and the frame
    * dimensions live in whichever start-of-frame segment the file carries
    * (baseline 0xC0, progressive 0xC2, ... — any 0xC0-0xCF except DHT
    * 0xC4 / JPG 0xC8 / DAC 0xCC), at no fixed offset. The SOF payload is
    * precision u8, height u16 BE, width u16 BE, component count u8.
    *
    * Strict validation, same contract as [[decodeBmp]]/[[decodePng]]:
    * SOI's leading 0xFF is non-ASCII, so no text payload ever reaches the
    * walk; every segment must begin 0xFF with declared length ≥ 2 and a
    * SOF's length must be exactly 8 + 3×components; a standalone marker
    * (RST/TEM — illegal before the scan), SOS or EOI before any SOF, a
    * length past the buffer, or zero dimensions/components abort to None
    * — and the caller falls back to the stub, keeping the raw-payload
    * oracles exact. */
  def decodeJpeg(media: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    def u16(off: Int): Int = ((media(off) & 0xff) << 8) | (media(off + 1) & 0xff)
    def isSof(m: Int): Boolean =
      m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
    if (media.length < 4 || (media(0) & 0xff) != 0xff || (media(1) & 0xff) != 0xd8)
      None
    else {
      var off = 2
      var out: Option[(Int, Int, Int, Int)] = None
      var halted = false
      while (!halted && off + 4 <= media.length) {
        val marker = media(off + 1) & 0xff
        // Standalone markers (TEM 0x01, RST 0xD0-D7), a stray SOI, EOI or
        // the scan start: no SOF was found first, so there is no frame
        // header to trust — abort rather than guess.
        if ((media(off) & 0xff) != 0xff || marker == 0x01 ||
            (marker >= 0xd0 && marker <= 0xda)) halted = true
        else {
          val segLen = u16(off + 2)
          if (segLen < 2 || off + 2 + segLen > media.length) halted = true
          else if (isSof(marker)) {
            if (segLen >= 8) {
              val precision = media(off + 4) & 0xff
              val h = u16(off + 5)
              val w = u16(off + 7)
              val nComp = media(off + 9) & 0xff
              if (w > 0 && h > 0 && nComp >= 1 && segLen == 8 + 3 * nComp)
                out = Some((w, h, precision, nComp))
            }
            halted = true
          } else off += 2 + segLen
        }
      }
      out
    }
  }

  /** A VALID 48-byte JPEG prefix (SOI + JFIF APP0 + a COM segment the
    * marker walk must skip + baseline SOF0, 3 components, 8-bit) declaring
    * `width`×`height` — what the fixture staging prepends so [[decodeJpeg]]
    * has a real segment sequence to walk. The payload that follows is not
    * a valid scan, but the metadata path never reads past the SOF — the
    * same header-only-probe contract as [[pngHeader]]. */
  def jpegHeader(width: Int, height: Int): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val b = java.nio.ByteBuffer.allocate(JpegHeaderLen) // big-endian default
    b.putShort(0xffd8.toShort)                          // SOI
      .putShort(0xffe0.toShort).putShort(16)            // APP0, len 16
      .put("JFIF".getBytes(ascii)).put(0.toByte)
      .put(1.toByte).put(1.toByte)                      // version 1.1
      .put(0.toByte)                                    // density units
      .putShort(1).putShort(1)                          // 1:1 aspect
      .put(0.toByte).put(0.toByte)                      // no thumbnail
      .putShort(0xfffe.toShort).putShort(7)             // COM, len 7
      .put("graft".getBytes(ascii))
      .putShort(0xffc0.toShort).putShort(17)            // SOF0, len 8+3*3
      .put(8.toByte)                                    // precision
      .putShort(height.toShort).putShort(width.toShort)
      .put(3.toByte)                                    // YCbCr
    for (c <- 1 to 3) b.put(c.toByte).put(0x11.toByte).put(0.toByte)
    b.array()
  }

  /** The staged JPEG dimensions for doc `id` — pure doc_id arithmetic so
    * the DuckDB oracle can replicate what the staging WROTE while Spark
    * re-derives it by WALKING the marker sequence (a fixed-offset read or
    * a skipped-segment bug breaks the hash match). */
  def jpegWidth(id: Long): Int = (((id * 7) % 640) + 16).toInt
  def jpegHeight(id: Long): Int = (((id * 13) % 360) + 16).toInt

  /** Typed JPEG metadata [[decodeJpeg]] extracts per payload. */
  case class JpegMeta(doc_id: Long, source: String, bytes: Long,
                      width: Int, height: Int, precision: Int, n_components: Int)

  /** JPEG decode pass over the mixed container-staged corpus: rows whose
    * bytes survive the marker walk yield [[JpegMeta]]; everything else —
    * bare payloads AND the BMP/PNG-staged rows — is dropped by the
    * flatMap. The parse itself is the filter, same contract as
    * [[decodedPng]]/[[decodedWav]]. */
  def decodedJpeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mediaTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeJpeg(r.media).map { case (w, h, prec, comps) =>
          JpegMeta(r.doc_id, r.source, r.media.length.toLong, w, h, prec, comps)
        }
      })
      .toDF()
  }

  /** Typed audio metadata [[decodeWav]] extracts per PCM payload. */
  case class AudioMeta(doc_id: Long, source: String, bytes: Long,
                       sample_rate: Int, channels: Int, n_samples: Long,
                       duration_ms: Long)

  /** Canonical PCM WAV container size: 12-byte RIFF chunk descriptor +
    * 24-byte `fmt ` subchunk + 8-byte `data` subchunk header. */
  val WavHeaderLen = 44

  /** REAL header parse for the canonical PCM WAV container (RIFF/WAVE):
    * little-endian u16 channels at offset 22, u32 sample-rate at 24, u16
    * bits-per-sample at 34, u32 data-chunk byte length at 40; frames =
    * dataLen / blockAlign (channels × bytes-per-sample).
    *
    * Same strict-validation argument as [[decodeBmp]]: beyond the RIFF /
    * WAVE / 'fmt ' magics it requires subchunk1-size 16 (offset 16) and
    * PCM format tag 1 (offset 20), which force zero bytes at offsets
    * 17-19 and 21 — impossible in an ASCII payload, so a text document
    * that happens to start with "RIFF" can never be misparsed as audio
    * and the raw-payload oracles stay correct. */
  def decodeWav(media: Array[Byte]): Option[(Int, Int, Long)] = {
    def i32(off: Int): Int =
      (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8) |
        ((media(off + 2) & 0xff) << 16) | ((media(off + 3) & 0xff) << 24)
    def i16(off: Int): Int = (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8)
    def tag(off: Int, t: String): Boolean =
      t.indices.forall(i => media(off + i) == t.charAt(i).toByte)
    if (media.length >= WavHeaderLen &&
        tag(0, "RIFF") && tag(8, "WAVE") && tag(12, "fmt ") &&
        i32(16) == 16 && i16(20) == 1 && tag(36, "data")) {
      val channels = i16(22)
      val rate = i32(24)
      val block = channels * (i16(34) / 8)
      if (channels >= 1 && rate > 0 && block > 0)
        Some((rate, channels, (i32(40) & 0xffffffffL) / block))
      else None
    } else None
  }

  /** A VALID 44-byte canonical PCM WAV header (16-bit samples) declaring
    * `sampleRate`/`channels` over a `payloadLen`-byte data chunk — what
    * the audio fixture staging prepends so [[decodeWav]] has real bytes
    * to parse. */
  def wavHeader(sampleRate: Int, channels: Int, payloadLen: Int): Array[Byte] = {
    val bits = 16
    val block = channels * bits / 8
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val b = java.nio.ByteBuffer.allocate(WavHeaderLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes(ascii))
      .putInt(36 + payloadLen)            // RIFF chunk size
      .put("WAVE".getBytes(ascii))
      .put("fmt ".getBytes(ascii))
      .putInt(16)                         // PCM subchunk1 size
      .putShort(1)                        // PCM format tag
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * block)         // byte rate
      .putShort(block.toShort)            // block align
      .putShort(bits.toShort)
      .put("data".getBytes(ascii))
      .putInt(payloadLen)                 // data chunk size
    b.array()
  }

  /** The staged WAV parameters for doc `id` — pure doc_id arithmetic so
    * the DuckDB oracle can replicate what the staging WROTE while Spark
    * re-derives them by PARSING the header bytes. */
  val WavRates: Array[Int] = Array(8000, 16000, 22050, 32000, 44100)
  def wavRate(id: Long): Int = WavRates(((id % 5) + 5).toInt % 5)
  def wavChannels(id: Long): Int = ((id % 2) + 1).toInt

  /** Audio-staged media table: every 3rd doc's payload is wrapped in a
    * REAL canonical PCM WAV header (parameters from [[wavRate]] /
    * [[wavChannels]]), the rest stay bare ASCII — so the audio decode
    * pass must dispatch on real magic bytes, not row position. */
  def audioTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 3 == 0) wavHeader(wavRate(id), wavChannels(id), payload.length) ++ payload
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** Audio decode pass over the WAV-staged mixed corpus: rows whose bytes
    * parse as canonical PCM WAV yield [[AudioMeta]]; non-audio payloads
    * are dropped by the flatMap (the parse itself is the filter — see the
    * zero-byte argument on [[decodeWav]]). duration_ms is integer floor
    * arithmetic so the oracle can replicate it exactly. */
  def decodedWav(s: SparkSession, dir: String): DataFrame =
    decodedWavOf(s, audioTableStaged(s, dir))

  def decodedWavOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeWav(r.media).map { case (rate, ch, nSamples) =>
          AudioMeta(r.doc_id, r.source, r.media.length.toLong, rate, ch,
            nSamples, nSamples * 1000L / rate)
        }
      })
      .toDF()
  }

  /** Typed movie metadata [[decodeMp4]] extracts per ISO-BMFF payload. */
  case class Mp4Meta(doc_id: Long, source: String, bytes: Long,
                     brand: String, timescale: Long, duration: Long,
                     duration_ms: Long)

  /** REAL metadata parse for the MP4 / ISO-BMFF container (ISO 14496-12)
    * — the fifth format, and the first needing a RECURSIVE box walk: a
    * file is a sequence of boxes (big-endian u32 size + 4-byte type,
    * where size==1 switches to a u64 "largesize" at offset 8), `moov` is
    * a pure container whose CHILDREN are boxes again, and the movie
    * header `mvhd` is a FullBox whose layout depends on its version byte
    * (v0: u32 timescale@12/duration@16 after 2×u32 timestamps; v1: u32
    * timescale@20/u64 duration@24 after 2×u64 timestamps). Returns
    * (major brand, timescale, duration in timescale units).
    *
    * Strict validation, same contract as the other four decoders: the
    * first box must be `ftyp` — and since every box's leading u32 size
    * must FIT THE BUFFER, an ASCII payload (first byte ≥ 0x20 ⇒ declared
    * size ≥ 0x20202020, half a gigabyte) can never walk at all, so no
    * text document misparses as video and the raw-payload oracles stay
    * exact. Sibling boxes between ftyp and moov (free/skip/meta...) are
    * skipped by size per the spec — including the largesize form — but a
    * size smaller than its own header, a box past the buffer, an mvhd
    * whose length doesn't match its version (108/120), non-zero flags,
    * an unknown version, or a non-positive timescale all abort to None. */
  def decodeMp4(media: Array[Byte]): Option[(String, Long, Long)] = {
    def u32(off: Int): Long =
      ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
        ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    def tag(off: Int): String =
      new String(media, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // Box walking is shared with the sample-table decoder — ONE
    // implementation of the size/largesize discipline (review finding:
    // a nested near-copy lived here before).
    def findBox(name: String, from: Int, to: Int): Option[(Int, Int)] =
      mp4FindBox(media, name, from, to)
    if (media.length < 16 || u32(0) < 16 || u32(0) > media.length ||
        tag(4) != "ftyp") None
    else {
      val brand = tag(8)
      if (!brand.forall(c => c >= ' ' && c <= '~')) None
      else
        for {
          (ms, me) <- findBox("moov", u32(0).toInt, media.length)
          (ps, pe) <- findBox("mvhd", ms, me)
          version = media(ps) & 0xff
          if media(ps + 1) == 0 && media(ps + 2) == 0 && media(ps + 3) == 0
          meta <- version match {
            case 0 if pe - ps == 100 => Some((u32(ps + 12), u32(ps + 16)))
            case 1 if pe - ps == 112 => Some((u32(ps + 20), u64(ps + 24)))
            case _ => None
          }
          if meta._1 > 0 && meta._2 >= 0
        } yield (brand, meta._1, meta._2)
    }
  }

  /** A VALID ISO-BMFF prefix declaring a movie of `duration` units at
    * `timescale` — what the video fixture staging prepends so
    * [[decodeMp4]] has a real box tree to walk: ftyp(major `brand`) →
    * a skippable top-level `free` box (in the u64 LARGESIZE form when
    * `largeFree` — the walk must handle size==1) → moov containing a
    * child `free` box BEFORE the mvhd (so a fixed-offset read into moov
    * lands in padding and fails the gate) → an mvhd in version 1 (64-bit
    * duration) when `v1`, else version 0 → the mdat header for the
    * payload. The payload that follows is not a real codec stream, but
    * the metadata path never reads into mdat — the same header-only-probe
    * contract as [[pngHeader]]/[[jpegHeader]]. */
  def mp4Header(brand: String, timescale: Long, duration: Long,
                v1: Boolean, largeFree: Boolean, payloadLen: Int): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val mvhdSize = if (v1) 120 else 108
    val freeSize = if (largeFree) 24 else 16
    val moovSize = 8 + 12 + mvhdSize
    val b = java.nio.ByteBuffer.allocate(20 + freeSize + moovSize + 8) // BE
    b.putInt(20).put("ftyp".getBytes(ascii))            // ftyp
      .put(brand.getBytes(ascii)).putInt(0)             // major brand + minor
      .put("isom".getBytes(ascii))                      // one compatible brand
    if (largeFree)                                      // top-level skippable
      b.putInt(1).put("free".getBytes(ascii)).putLong(24L).putLong(0L)
    else b.putInt(16).put("free".getBytes(ascii)).putLong(0L)
    b.putInt(moovSize).put("moov".getBytes(ascii))      // moov container
      .putInt(12).put("free".getBytes(ascii)).putInt(0) // child padding box
      .putInt(mvhdSize).put("mvhd".getBytes(ascii))     // movie header
    if (v1) b.putInt(0x01000000)                        // version 1, flags 0
      .putLong(0L).putLong(0L)                          // creation/modification
      .putInt(timescale.toInt).putLong(duration)
    else b.putInt(0)                                    // version 0, flags 0
      .putInt(0).putInt(0)
      .putInt(timescale.toInt).putInt(duration.toInt)
    b.putInt(0x00010000).putShort(0x0100.toShort)       // rate 1.0, volume 1.0
      .putShort(0).putInt(0).putInt(0)                  // reserved
      .putInt(0x00010000).putInt(0).putInt(0)           // identity matrix
      .putInt(0).putInt(0x00010000).putInt(0)
      .putInt(0).putInt(0).putInt(0x40000000)
      .putInt(0).putInt(0).putInt(0)                    // pre_defined ×6
      .putInt(0).putInt(0).putInt(0)
      .putInt(2)                                        // next track id
      .putInt(8 + payloadLen).put("mdat".getBytes(ascii))
    b.array()
  }

  /** The staged MP4 parameters for doc `id` — pure doc_id arithmetic so
    * the DuckDB oracle can replicate what the staging WROTE while Spark
    * re-derives them by WALKING the box tree. Version-1 rows (id%6==0)
    * get durations ABOVE u32 range, so only a real 64-bit read can match
    * the oracle; id%9==0 rows stage the top-level free box in largesize
    * form. */
  val Mp4Brands: Array[String] = Array("isom", "mp42", "avc1")
  val Mp4Timescales: Array[Int] = Array(600, 1000, 90000, 44100, 24)
  def mp4Brand(id: Long): String = Mp4Brands(((id / 3) % 3).toInt)
  def mp4Timescale(id: Long): Int = Mp4Timescales((id % 5).toInt)
  def mp4Duration(id: Long): Long =
    if (id % 6 == 0) 4294967296L + (id * 37) % 1000000
    else (id * 37) % 100000 + 1

  /** Video-staged media table: every 3rd doc's payload is wrapped in a
    * REAL ISO-BMFF box tree (parameters from [[mp4Brand]] /
    * [[mp4Timescale]] / [[mp4Duration]]), the rest stay bare — so the
    * video decode pass must dispatch on a real box walk, not row
    * position. */
  def videoTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 3 == 0)
            mp4Header(mp4Brand(id), mp4Timescale(id), mp4Duration(id),
              v1 = id % 6 == 0, largeFree = id % 9 == 0, payload.length) ++ payload
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** Movie-metadata pass over the MP4-staged mixed corpus: rows whose
    * bytes survive the box walk yield [[Mp4Meta]]; bare payloads are
    * dropped by the parse itself (see the buffer-bound size argument on
    * [[decodeMp4]]). duration_ms is integer floor arithmetic so the
    * oracle can replicate it exactly. */
  def decodedMp4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    videoTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeMp4(r.media).map { case (brand, ts, dur) =>
          Mp4Meta(r.doc_id, r.source, r.media.length.toLong, brand, ts, dur,
            dur * 1000L / ts)
        }
      })
      .toDF()
  }

  /** Raw media table from documents (payload = utf-8 bytes of text — a
    * stand-in for real blobs, with realistic size variance). The byte-
    * level queries (content dedup, audio energy, the feature pipeline)
    * read THIS table: their oracles model the raw payload. */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), encode(col("text"), "UTF-8").as("media"))

  /** Container-staged media table: doc_id % 4 == 0 payloads are wrapped
    * in a REAL BMP header (dimensions from [[bmpWidth]]/[[bmpHeight]]),
    * doc_id % 4 == 1 in a REAL JPEG prefix (SOI + APP0 + COM + SOF0 —
    * the marker-walk format; dimensions from [[jpegWidth]]/[[jpegHeight]]),
    * doc_id % 4 == 2 in a REAL PNG signature+IHDR (big-endian, real CRC;
    * dimensions from [[pngWidth]]/[[pngHeight]]), and doc_id % 4 == 3
    * stays bare — the mixed-format corpus the metadata queries
    * (mm_meta_stats / mm_frame_sample / mm_resize_plan / mm_png_meta /
    * mm_jpeg_meta) decode, so all three real parse paths (fixed-offset LE,
    * fixed-offset BE, marker walk) AND the stub fallback are exercised by
    * every gate over it. Typed mapPartitions staging, same batch shape as
    * the decode pass itself. */
  def mediaTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 4 == 0) bmpHeader(bmpWidth(id), bmpHeight(id), payload.length) ++ payload
          else if (id % 4 == 1) jpegHeader(jpegWidth(id), jpegHeight(id)) ++ payload
          else if (id % 4 == 2) pngHeader(pngWidth(id), pngHeight(id)) ++ payload
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** Decode pass over the mixed-format staged corpus: typed Dataset +
    * mapPartitions — the batch shape a real decoder needs (iterator in,
    * iterator out, one partition per task). */
  def decoded(s: SparkSession, dir: String): DataFrame =
    decodedOf(s, mediaTableStaged(s, dir))

  /** Decode pass over ANY (doc_id, source, media) frame. Callers that only
    * need a few payloads should filter BEFORE this call: the typed
    * mapPartitions is a pushdown barrier, so a filter above it still
    * decodes (and scans) the whole corpus. */
  def decodedOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h, f) = decodeMedia(r.media)
          MediaMeta(r.doc_id, r.source, r.media.length.toLong, w, h, f)
        }
      }
      .toDF()
  }

  // ──────────────────── pixel / sample DECODE (round 12) ────────────────────
  // The decode STEP itself — not just container metadata — for the formats
  // that need no codec library: uncompressed 24-bit BMP pixel arrays,
  // binary PPM (P6), and 16-bit PCM WAV samples. Compressed formats (PNG
  // IDAT filtering aside, JPEG entropy coding, MP4 codecs) still fall to
  // [[decodeStub]]: their decoders need libs this container lacks.

  /** Deterministic pixel-value model the pixel staging WRITES and the
    * DuckDB oracle replicates from doc_id arithmetic: channel `c`
    * (0=R, 1=G, 2=B) of pixel (x, y) of doc `id`. Mod 251 (a prime below
    * 256) so every value is an unambiguous byte. Spark never evaluates
    * this at query time — it re-derives the values by PARSING the staged
    * bytes, so a wrong stride, row order, or channel order breaks the
    * hash match. */
  def pxByte(id: Long, x: Int, y: Int, c: Int): Int =
    ((id * 31 + x * 7L + y * 13L + c * 101L) % 251).toInt

  /** Staged pixel-image dims — small on purpose (≤ 16×12): the gates are
    * about decode CORRECTNESS (stride, row order, channel order), not
    * payload volume. */
  def bmpPxWidth(id: Long): Int = ((id % 13) + 3).toInt
  def bmpPxHeight(id: Long): Int = (((id * 3) % 11) + 2).toInt
  def ppmPxWidth(id: Long): Int = (((id * 5) % 14) + 3).toInt
  def ppmPxHeight(id: Long): Int = (((id * 7) % 12) + 2).toInt

  /** A COMPLETE uncompressed 24-bit BMP for doc `id`: the 54-byte header
    * (same builder the metadata fixtures use) plus a REAL pixel array in
    * the format's own layout — rows BOTTOM-UP, bytes B,G,R per pixel,
    * each row padded to a 4-byte boundary with 0xAA garbage. A decoder
    * that sums the padding, reads rows top-down, or keeps file byte
    * order as R,G,B fails the oracle hash. */
  def pixelBmp(id: Long): Array[Byte] = {
    val w = bmpPxWidth(id); val h = bmpPxHeight(id)
    val stride = ((w * 3 + 3) / 4) * 4
    val px = new Array[Byte](stride * h)
    java.util.Arrays.fill(px, 0xAA.toByte)
    var y = 0
    while (y < h) {
      val base = (h - 1 - y) * stride // bottom-up: image row 0 is the LAST file row
      var x = 0
      while (x < w) {
        px(base + x * 3) = pxByte(id, x, y, 2).toByte     // B
        px(base + x * 3 + 1) = pxByte(id, x, y, 1).toByte // G
        px(base + x * 3 + 2) = pxByte(id, x, y, 0).toByte // R
        x += 1
      }
      y += 1
    }
    bmpHeader(w, h, px.length) ++ px
  }

  /** A COMPLETE binary PPM (P6, the Netpbm format) for doc `id`: an ASCII
    * header — magic, a `#` comment line (so a parser that doesn't handle
    * comments dies here), decimal width/height/maxval separated by
    * whitespace runs — then RGB triplets TOP-DOWN with no row padding:
    * the opposite of BMP on every layout axis (text vs binary header,
    * row order, channel order, padding). */
  def pixelPpm(id: Long): Array[Byte] = {
    val w = ppmPxWidth(id); val h = ppmPxHeight(id)
    val header = s"P6\n# graft pixel fixture $id\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = (y * w + x) * 3
        px(base) = pxByte(id, x, y, 0).toByte     // R
        px(base + 1) = pxByte(id, x, y, 1).toByte // G
        px(base + 2) = pxByte(id, x, y, 2).toByte // B
        x += 1
      }
      y += 1
    }
    header ++ px
  }

  /** Integer pixel statistics one decoded image reduces to — exact Long
    * arithmetic so the DuckDB oracle can replicate them bit-for-bit.
    * `rMoment` weights each R value by its raster position (y·w + x), so
    * ANY coordinate mistake — stride, row order, channel offset — shifts
    * it; `tlLuma` is integer Rec.601 luma of the TOP-LEFT pixel, which in
    * a bottom-up BMP lives at the start of the LAST file row (a top-down
    * read returns the wrong pixel's luma). */
  final case class DecodedPixels(width: Int, height: Int, rSum: Long,
                                 gSum: Long, bSum: Long, rMoment: Long,
                                 tlLuma: Long)

  private def sumPixels(w: Int, h: Int, at: (Int, Int, Int) => Int): DecodedPixels = {
    var r = 0L; var g = 0L; var b = 0L; var m = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rv = at(x, y, 0)
        r += rv; g += at(x, y, 1); b += at(x, y, 2)
        m += (y.toLong * w + x) * rv
        x += 1
      }
      y += 1
    }
    val luma = (299L * at(0, 0, 0) + 587L * at(0, 0, 1) + 114L * at(0, 0, 2)) / 1000L
    DecodedPixels(w, h, r, g, b, m, luma)
  }

  /** Validated random access into an uncompressed 24-bit BMP's pixel
    * array: (width, height, accessor) where accessor(x, y, c) returns
    * semantic channel c (0=R,1=G,2=B) of IMAGE coordinates (x, y) —
    * hiding the format's stride padding, bottom-up row order, and B,G,R
    * byte order from callers. Shared by the stats decode and the
    * executed resize. */
  def bmpPixelAccessor(media: Array[Byte]): Option[(Int, Int, (Int, Int, Int) => Int)] =
    decodeBmp(media).flatMap { case (w, h, _) =>
      def i32(off: Int): Int =
        (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8) |
          ((media(off + 2) & 0xff) << 16) | ((media(off + 3) & 0xff) << 24)
      def i16(off: Int): Int = (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8)
      val stride = ((w * 3 + 3) / 4) * 4
      if (i16(28) == 24 && i32(30) == 0 && w <= (1 << 20) && h <= (1 << 20) &&
          media.length.toLong >= BmpHeaderLen + stride.toLong * h)
        Some((w, h, (x: Int, y: Int, c: Int) =>
          // image row y sits at file row h-1-y; file bytes are B,G,R so
          // semantic channel c (0=R,1=G,2=B) reads offset 2-c
          media(BmpHeaderLen + (h - 1 - y) * stride + x * 3 + (2 - c)) & 0xff))
      else None
    }

  /** REAL pixel decode for uncompressed 24-bit BMP: header validation via
    * [[decodeBmp]] plus bpp == 24 and compression == BI_RGB, then the
    * pixel array read through [[bmpPixelAccessor]]. None for anything
    * else — including a valid header over a truncated pixel array. */
  def decodeBmpPixels(media: Array[Byte]): Option[DecodedPixels] =
    bmpPixelAccessor(media).map { case (w, h, at) => sumPixels(w, h, at) }

  /** REAL pixel decode for binary PPM (P6): a tokenizing ASCII header
    * parse — magic, whitespace runs, `#` comments through end-of-line,
    * three decimal fields, maxval must be 255 (single-byte samples),
    * exactly ONE whitespace byte before the raster per the spec — then
    * the sample array top-down R,G,B. None on any malformation,
    * including a truncated raster. */
  def decodePpmPixels(media: Array[Byte]): Option[DecodedPixels] = {
    if (media.length < 2 || media(0) != 'P'.toByte || media(1) != '6'.toByte)
      return None
    var i = 2
    def isWs(b: Byte): Boolean =
      b == ' '.toByte || b == '\t'.toByte || b == '\r'.toByte || b == '\n'.toByte
    // Whitespace runs and '#' comments (to end-of-line); true iff any
    // separator was consumed — PPM requires ≥1 between header fields.
    def skipSep(): Boolean = {
      var progressed = false
      var cont = true
      while (cont && i < media.length) {
        if (media(i) == '#'.toByte) {
          while (i < media.length && media(i) != '\n'.toByte) i += 1
          progressed = true
        } else if (isWs(media(i))) { i += 1; progressed = true }
        else cont = false
      }
      progressed
    }
    def decimal(): Int = { // -1 on no digits or overflow
      var v = 0L; var any = false
      while (i < media.length && media(i) >= '0'.toByte && media(i) <= '9'.toByte &&
             v <= Int.MaxValue) {
        v = v * 10 + (media(i) - '0'.toByte); any = true; i += 1
      }
      if (any && v <= Int.MaxValue) v.toInt else -1
    }
    if (!skipSep()) return None
    val w = decimal(); if (w <= 0 || w > (1 << 20)) return None
    if (!skipSep()) return None
    val h = decimal(); if (h <= 0 || h > (1 << 20)) return None
    if (!skipSep()) return None
    if (decimal() != 255) return None
    if (i >= media.length || !isWs(media(i))) return None
    i += 1 // exactly one whitespace byte, then the raster
    val base = i
    if (media.length.toLong - base < w.toLong * h * 3) return None
    Some(sumPixels(w, h, (x, y, c) => media(base + (y * w + x) * 3 + c) & 0xff))
  }

  /** Staged PCM parameters for doc `id` — FRAME count, channel count and
    * the 16-bit signed LE sample model, full amplitude range (65521 is
    * prime, so the values sweep the range without byte-aligned
    * periodicity: a decoder that reads big-endian or unsigned fails
    * immediately). Channels key on id/4 — the staged residue class is
    * id%4==1, where id%2 is identically 1 (the aliasing trap: a
    * wavChannels-style id%2 key would have made every staged PCM stereo
    * and the mono path dead); id/4 walks both values. The per-channel
    * `c*17` term vanishes at c=0, so mono bytes are IDENTICAL to the
    * pre-stereo staging and the c term only separates channel 1. */
  def pcmLen(id: Long): Int = ((id % 50) + 10).toInt
  def pcmChannels(id: Long): Int = (((id / 4) % 2) + 1).toInt
  def pcmSample(id: Long, i: Int, c: Int): Int =
    (((id * 7 + i * 31L + c * 17L) % 65521) - 32760).toInt
  def pcmSample(id: Long, i: Int): Int = pcmSample(id, i, 0)

  /** A COMPLETE 16-bit PCM WAV for doc `id` — mono or 2-channel
    * INTERLEAVED per [[pcmChannels]]: the 44-byte canonical header (same
    * builder the metadata fixtures use, blockAlign = 2·ch) over REAL
    * frames from [[pcmSample]], little-endian two's-complement, frame i
    * laid out [ch0, ch1]. */
  def pcmWav(id: Long): Array[Byte] = {
    val n = pcmLen(id)
    val ch = pcmChannels(id)
    val data = new Array[Byte](n * ch * 2)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < ch) {
        val smp = pcmSample(id, i, c)
        val off = (i * ch + c) * 2
        data(off) = (smp & 0xff).toByte
        data(off + 1) = ((smp >> 8) & 0xff).toByte
        c += 1
      }
      i += 1
    }
    wavHeader(wavRate(id), ch, data.length) ++ data
  }

  /** Integer sample statistics one decoded PCM stream reduces to — all
    * exact Long/Int arithmetic for the oracle. nSamples counts
    * INDIVIDUAL samples (frames × channels); mom0/mom1 are the
    * frame-position-weighted per-channel moments Σ_i i·s(i,c), so a
    * channel swap or de-interleave error (reading [ch0,ch1] frames as
    * [ch1,ch0] or as consecutive mono) shifts a moment even when the
    * channel-agnostic sums survive. mom1 = 0 for mono. */
  final case class DecodedPcm(nSamples: Long, sumAbs: Long, sumSq: Long,
                              maxS: Int, minS: Int, channels: Int,
                              mom0: Long, mom1: Long)

  /** REAL sample decode for mono/stereo 16-bit PCM WAV: header
    * validation via [[decodeWav]], then each sample read as
    * little-endian SIGNED 16-bit (sign extension is the decode step a
    * naive byte-pair read gets wrong), stereo de-interleaved by frame.
    * None for anything else, including a data chunk size the buffer
    * can't back or that doesn't divide into whole frames. */
  def decodeWavPcm(media: Array[Byte]): Option[DecodedPcm] =
    decodeWav(media).flatMap { case (_, channels, _) =>
      def i32(off: Int): Int =
        (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8) |
          ((media(off + 2) & 0xff) << 16) | ((media(off + 3) & 0xff) << 24)
      val dataLen = i32(40)
      val frameBytes = 2 * channels
      val nFrames = dataLen / frameBytes
      if ((channels == 1 || channels == 2) && dataLen >= frameBytes &&
          dataLen % frameBytes == 0 &&
          media.length.toLong >= WavHeaderLen.toLong + dataLen) {
        var sumAbs = 0L; var sumSq = 0L
        var maxS = Int.MinValue; var minS = Int.MaxValue
        var mom0 = 0L; var mom1 = 0L
        var i = 0
        while (i < nFrames) {
          var c = 0
          while (c < channels) {
            val off = WavHeaderLen + (i * channels + c) * 2
            val smp = ((media(off) & 0xff) | (media(off + 1) << 8)).toShort.toInt
            sumAbs += math.abs(smp); sumSq += smp.toLong * smp
            if (smp > maxS) maxS = smp
            if (smp < minS) minS = smp
            if (c == 0) mom0 += i.toLong * smp else mom1 += i.toLong * smp
            c += 1
          }
          i += 1
        }
        Some(DecodedPcm(nFrames.toLong * channels, sumAbs, sumSq, maxS, minS,
          channels, mom0, mom1))
      } else None
    }

  /** Windowed audio-energy features over one decoded PCM stream — the
    * feature-extraction step (VAD framing, silence trimming, loudness
    * segmentation) an audio pipeline runs after decode. Windows are
    * [[EnergyWindowFrames]]-frame blocks of frames (all channels summed
    * into one window energy); eMoment = Σ w·E_w pins the window
    * boundaries, eMax the peak block. All Σs² integer-exact. */
  final case class DecodedPcmEnergy(nWindows: Int, eTotal: Long, eMax: Long,
                                    eMoment: Long, channels: Int)
  val EnergyWindowFrames = 16

  /** Same strict header/frame validation as [[decodeWavPcm]], then the
    * per-window sum-of-squares reduction. */
  def decodeWavEnergy(media: Array[Byte]): Option[DecodedPcmEnergy] =
    decodeWav(media).flatMap { case (_, channels, _) =>
      def i32(off: Int): Int =
        (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8) |
          ((media(off + 2) & 0xff) << 16) | ((media(off + 3) & 0xff) << 24)
      val dataLen = i32(40)
      val frameBytes = 2 * channels
      val nFrames = dataLen / frameBytes
      if ((channels == 1 || channels == 2) && dataLen >= frameBytes &&
          dataLen % frameBytes == 0 &&
          media.length.toLong >= WavHeaderLen.toLong + dataLen) {
        val win = EnergyWindowFrames
        val nWindows = (nFrames + win - 1) / win
        var eTotal = 0L; var eMax = 0L; var eMoment = 0L
        var w = 0
        while (w < nWindows) {
          var e = 0L
          var i = w * win
          val end = math.min(nFrames, (w + 1) * win)
          while (i < end) {
            var c = 0
            while (c < channels) {
              val off = WavHeaderLen + (i * channels + c) * 2
              val smp = ((media(off) & 0xff) | (media(off + 1) << 8)).toShort.toInt
              e += smp.toLong * smp
              c += 1
            }
            i += 1
          }
          eTotal += e; if (e > eMax) eMax = e
          eMoment += w.toLong * e
          w += 1
        }
        Some(DecodedPcmEnergy(nWindows, eTotal, eMax, eMoment, channels))
      } else None
    }

  /** 16-point integer twiddle table: Cos16(m) = floor(cos(2π·m/16)·10⁴)
    * as MATHEMATICAL values, hardcoded — never computed at runtime:
    * cos(3π/2) evaluates to -1.8e-16 in doubles and the floor would turn
    * the exact 0 into -1 on one engine but not the other. Single-sourced
    * into the mm_audio_dft oracle via [[cos16Sql]];
    * sin(2πm/16) = cos(2π·((m+12) mod 16)/16). */
  val Cos16: Array[Long] = Array(10000L, 9238L, 7071L, 3826L, 0L, -3827L,
    -7072L, -9239L, -10000L, -9239L, -7072L, -3827L, 0L, 3826L, 7071L, 9238L)

  /** DuckDB CASE fragment indexing [[Cos16]] by `e` (already reduced
    * mod 16) — generated from the same array, so the two engines cannot
    * drift. */
  def cos16Sql(e: String): String =
    s"(CASE ($e) " +
      Cos16.zipWithIndex.map { case (v, m) => s"WHEN $m THEN $v" }.mkString(" ") +
      " END)"

  /** Spectral features one decoded stream reduces to: the channel-0
    * correlation against the 16-periodic cosine/sine basis at bins
    * k = 1..3 — X_k = Σ_i s(i,0)·Cos16((k·i) mod 16) (a true DFT bin for
    * lengths that are multiples of 16, a comb-filter correlation
    * otherwise), power p_k = (X_k² + Y_k²) / 10⁶ computed through a
    * 128-bit intermediate (|X| ≤ n·32760·10⁴ overflows a squared
    * BIGINT at n ≥ ~300; the oracle squares in HUGEINT), and the
    * dominant bin (ties to the lowest k). */
  final case class DecodedDft(nFrames: Long, x1: Long, p1E6: Long,
                              x2: Long, p2E6: Long, x3: Long, p3E6: Long,
                              domBin: Int)

  /** Same strict header/frame validation as [[decodeWavPcm]], then the
    * three-bin correlation pass over channel 0. */
  def decodeWavDft(media: Array[Byte]): Option[DecodedDft] =
    decodeWav(media).flatMap { case (_, channels, _) =>
      def i32(off: Int): Int =
        (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8) |
          ((media(off + 2) & 0xff) << 16) | ((media(off + 3) & 0xff) << 24)
      val dataLen = i32(40)
      val frameBytes = 2 * channels
      val nFrames = dataLen / frameBytes
      if ((channels == 1 || channels == 2) && dataLen >= frameBytes &&
          dataLen % frameBytes == 0 &&
          media.length.toLong >= WavHeaderLen.toLong + dataLen) {
        val x = new Array[Long](4); val y = new Array[Long](4)
        var i = 0
        while (i < nFrames) {
          val off = WavHeaderLen + (i * channels) * 2
          val smp = ((media(off) & 0xff) | (media(off + 1) << 8)).toShort.toInt
          var k = 1
          while (k <= 3) {
            val m = (k * i) % 16
            x(k) += smp * Cos16(m)
            y(k) += smp * Cos16((m + 12) % 16)
            k += 1
          }
          i += 1
        }
        val p = Array.tabulate(4)(k =>
          if (k == 0) 0L
          else ((BigInt(x(k)) * x(k) + BigInt(y(k)) * y(k)) / 1000000).toLong)
        val dom = if (p(1) >= p(2) && p(1) >= p(3)) 1
                  else if (p(2) >= p(3)) 2 else 3
        Some(DecodedDft(nFrames.toLong, x(1), p(1), x(2), p(2), x(3), p(3), dom))
      } else None
    }

  // ---- IMA ADPCM (WAVE format 0x11) — a REAL compressed audio codec ----
  //
  // The honest step past PCM: 4-bit IMA/DVI ADPCM is the one widely
  // deployed audio codec whose decode is BIT-EXACT by specification
  // (pure integer predictor + step-table recurrence, no floats, no
  // implementation latitude) — which is exactly the JPEG-coefficient
  // argument for why this layer is oracle-worthy while lossy float
  // codecs are not. Blocks are staged from a CLOSED-FORM NIBBLE MODEL
  // (any nibble stream is legal ADPCM data — the model does not need an
  // encoder, just the block writer), and the DuckDB oracle replays the
  // identical recurrence as an integer fold with the state (running
  // sample sum, predictor, step index) PACKED into one BIGINT — so a
  // wrong step-table entry, clamp bound, sign bit or index update
  // anywhere in the chain diverges every later sample and hash-fails.

  /** IMA step-size table (89 entries) and index-adjust table — public
    * spec constants (IMA ADPCM reference algorithm / DVI4, RFC 3551
    * §4.5.1 lineage). */
  val AdpcmStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  val AdpcmIndexAdjust: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** Closed-form staged-stream model: blocks per doc, per-block header
    * state, and the nibble at position i — the i² term breaks linear
    * periodicity so consecutive nibbles do not repeat with the table
    * period. */
  def adpcmBlocks(id: Long): Int = (1 + id % 3).toInt
  def adpcmPred0(id: Long, b: Int): Int = (((id * 37 + b * 101) % 65536) - 32768).toInt
  def adpcmIdx0(id: Long, b: Int): Int = ((id * 13 + b * 7) % 89).toInt
  def adpcmNib(id: Long, b: Int, i: Int): Int =
    ((id * 7 + b * 11 + i.toLong * i * 3) % 16).toInt

  /** 128 nibbles per block → 64 data bytes; +4-byte block header = 68;
    * the header predictor is itself the block's first OUTPUT sample, so
    * samples per block = 129 (the fmt extension field). */
  val AdpcmNibsPerBlock = 128
  val AdpcmBlockAlign = 4 + AdpcmNibsPerBlock / 2
  val AdpcmSamplesPerBlock = AdpcmNibsPerBlock + 1

  /** A complete mono IMA-ADPCM WAV for doc `id`: RIFF + fmt (tag 0x11,
    * 4 bits/sample, cbSize=2 extension carrying samplesPerBlock) + fact
    * (total sample count — REQUIRED for compressed WAVE formats) + data
    * blocks of [int16 LE predictor][uint8 step index][reserved 0] and
    * nibbles packed LOW-first. */
  def adpcmWav(id: Long): Array[Byte] = {
    val nb = adpcmBlocks(id)
    val dataLen = nb * AdpcmBlockAlign
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + 4 + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 28 + 12 + 8 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(20)
      .putShort(0x11.toShort).putShort(1.toShort) // IMA ADPCM, mono
      .putInt(8000)
      .putInt(8000 * AdpcmBlockAlign / AdpcmSamplesPerBlock) // nominal byte rate
      .putShort(AdpcmBlockAlign.toShort).putShort(4.toShort) // 4 bits/sample
      .putShort(2.toShort).putShort(AdpcmSamplesPerBlock.toShort)
    bb.put("fact".getBytes("US-ASCII")).putInt(4)
      .putInt(nb * AdpcmSamplesPerBlock)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    for (b <- 0 until nb) {
      bb.putShort(adpcmPred0(id, b).toShort).put(adpcmIdx0(id, b).toByte).put(0.toByte)
      var i = 0
      while (i < AdpcmNibsPerBlock) {
        bb.put((adpcmNib(id, b, i) | (adpcmNib(id, b, i + 1) << 4)).toByte)
        i += 2
      }
    }
    bb.array()
  }

  /** Per-doc decoded-ADPCM statistics, all exact integers: s_sum sums
    * EVERY output sample (header predictor included — it is sample 0 of
    * its block), pred_moment = Σ (b+1)·finalPredictor_b pins block order
    * AND the full in-block recurrence (the final predictor depends on
    * every step of the chain). */
  final case class DecodedAdpcm(nBlocks: Int, nSamples: Long, sSum: Long,
                                predMoment: Long)

  /** REAL IMA-ADPCM decode, pure JVM: RIFF chunk walk (fmt/fact/data),
    * strict profile validation (tag 0x11, mono, 4 bits, blockAlign
    * consistent with the fmt extension's samplesPerBlock, fact == blocks
    * × samplesPerBlock, step index ≤ 88, reserved byte 0), then the IMA
    * recurrence per nibble: diff = (step>>3) + bit-conditional step
    * fractions, predictor clamped to int16, index adjusted and clamped
    * to [0, 88]. None for anything outside the profile or misframed. */
  def decodeWavAdpcm(media: Array[Byte]): Option[DecodedAdpcm] = {
    if (media.length < 12) return None
    def s(off: Int, n: Int) = new String(media, off, n, "US-ASCII")
    if (s(0, 4) != "RIFF" || s(8, 4) != "WAVE") return None
    def u16(off: Int): Int = (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8)
    def i16(off: Int): Int = u16(off).toShort.toInt
    def u32(off: Int): Long =
      (media(off) & 0xffL) | ((media(off + 1) & 0xffL) << 8) |
        ((media(off + 2) & 0xffL) << 16) | ((media(off + 3) & 0xffL) << 24)
    var off = 12
    var fmtOff = -1; var factSamples = -1L; var dataOff = -1; var dataLen = -1
    while (off + 8 <= media.length) {
      val typ = s(off, 4); val len = u32(off + 4)
      if (len > media.length - off - 8) return None
      typ match {
        case "fmt " => fmtOff = off + 8
        case "fact" => if (len >= 4) factSamples = u32(off + 8)
        case "data" => dataOff = off + 8; dataLen = len.toInt
        case _ => ()
      }
      off += 8 + len.toInt + (len.toInt & 1) // chunks are word-aligned
    }
    if (fmtOff < 0 || dataOff < 0 || factSamples < 0) return None
    if (u16(fmtOff) != 0x11 || u16(fmtOff + 2) != 1 || u16(fmtOff + 14) != 4)
      return None
    val blockAlign = u16(fmtOff + 12)
    if (u16(fmtOff + 16) < 2) return None // cbSize must carry samplesPerBlock
    val spb = u16(fmtOff + 18)
    if (spb < 2 || blockAlign != 4 + (spb - 1) / 2 || (spb - 1) % 2 != 0)
      return None
    if (dataLen <= 0 || dataLen % blockAlign != 0) return None
    val nBlocks = dataLen / blockAlign
    if (factSamples != nBlocks.toLong * spb) return None
    var sSum = 0L; var predMoment = 0L
    var b = 0
    while (b < nBlocks) {
      val base = dataOff + b * blockAlign
      var pred = i16(base)
      var idx = media(base + 2) & 0xff
      if (idx > 88 || media(base + 3) != 0) return None
      sSum += pred // the header predictor is the block's first sample
      var i = 0
      while (i < spb - 1) {
        val byte = media(base + 4 + i / 2) & 0xff
        val nib = if (i % 2 == 0) byte & 0x0f else byte >> 4
        val step = AdpcmStep(idx)
        var diff = step >> 3
        if ((nib & 4) != 0) diff += step
        if ((nib & 2) != 0) diff += step >> 1
        if ((nib & 1) != 0) diff += step >> 2
        pred = if ((nib & 8) != 0) pred - diff else pred + diff
        if (pred > 32767) pred = 32767
        if (pred < -32768) pred = -32768
        idx += AdpcmIndexAdjust(nib & 7)
        if (idx < 0) idx = 0
        if (idx > 88) idx = 88
        sSum += pred
        i += 1
      }
      predMoment += (b + 1).toLong * pred
      b += 1
    }
    Some(DecodedAdpcm(nBlocks, nBlocks.toLong * spb, sSum, predMoment))
  }

  /** ADPCM-staged media table: every EVEN doc's payload is a complete
    * IMA-ADPCM WAV, odd docs stay bare text — decode-as-filter, its own
    * table like the PNG-pixel corpus. */
  def adpcmTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 2 == 0) adpcmWav(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  final case class AdpcmStats(doc_id: Long, source: String, n_blocks: Int,
                              n_samples: Long, s_sum: Long, pred_moment: Long)

  def decodedAdpcm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    adpcmTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeWavAdpcm(r.media).map(a =>
          AdpcmStats(r.doc_id, r.source, a.nBlocks, a.nSamples, a.sSum, a.predMoment))
      })
      .toDF()
  }

  /** Staged full-PNG dims — distinct arithmetic from the BMP/PPM models
    * so a query reading the wrong staged family fails its oracle. */
  def pngPxWidth(id: Long): Int = (((id * 3) % 15) + 3).toInt
  def pngPxHeight(id: Long): Int = (((id * 13) % 10) + 2).toInt

  /** The Paeth predictor (PNG spec §9.4) — shared by the encoder below
    * and [[decodePngPixels]]. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 + data.length) // BE default
    b.putInt(data.length)
      .put(typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .put(data)
    val crc = new java.util.zip.CRC32
    crc.update(b.array(), 4, 4 + data.length)
    b.putInt(crc.getValue.toInt)
    b.array()
  }

  /** Whether staged PNG `id` is written ADAM7-INTERLACED — every other
    * staged image, mirroring the GIF interlace coverage: interlacing
    * permutes pixel STORAGE only (per-pass sub-images, each filtered
    * against its own previous pass scanline), the value model is
    * unchanged, so the one mm_png_pixels oracle covers both layouts. */
  def pngInterlaced(id: Long): Boolean = id % 2 == 1

  /** Whether staged PNG `id` is written PALETTE-indexed (color type 3) —
    * half the staged images, on a rule INDEPENDENT of the interlace
    * parity so all four storage combos occur (sequential/Adam7 ×
    * RGB/palette). Like interlacing, the palette is pure STORAGE: the
    * per-pixel value model is unchanged (these images have ≤ w·h ≤ 187
    * distinct colors, so an 8-bit palette always fits), and the one
    * mm_png_pixels oracle covers all four layouts verbatim. Real crawl
    * PNGs are frequently palette-indexed (icons, logos, screenshots),
    * which is why the profile matters. */
  def pngPaletted(id: Long): Boolean = {
    val k = (id / 3) % 4
    k == 1 || k == 2
  }

  /** Adam7 pass geometry (PNG spec §8.2): (x0, y0, dx, dy) per pass. */
  private val Adam7 =
    Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  /** The scanline plan shared by the PNG encoder and decoder: scanlines
    * in stream order, grouped per pass (the filter predictors' "previous
    * scanline" resets at every pass boundary), each as (image row y,
    * image x-coords). Sequential = one pass of full rows; Adam7 = the
    * seven sub-grids, empty passes omitted (a small image legally has
    * them — pass 2 is empty below width 5). */
  private[multimodal] def scanlinePlan(w: Int, h: Int, interlaced: Boolean): Seq[Seq[(Int, Array[Int])]] =
    if (!interlaced) Seq((0 until h).map(y => (y, Array.range(0, w))))
    else Adam7.map { case (x0, y0, dx, dy) =>
      val xs = Array.range(x0, w, dx)
      if (xs.isEmpty) Seq.empty[(Int, Array[Int])]
      else (y0 until h by dy).map(y => (y, xs))
    }

  /** A COMPLETE, spec-conformant RGB PNG for doc `id` — signature, IHDR
    * (8-bit truecolor; interlace byte 1 for [[pngInterlaced]] ids), IDAT
    * holding the zlib-DEFLATED filtered scanlines, IEND, every chunk
    * CRC'd. Scanlines cycle the filter type (stream line number mod 5),
    * so all five filters (None/Sub/Up/Average/Paeth) appear in every
    * image and a decoder with any one predictor wrong fails the oracle;
    * interlaced images filter each pass as its own sub-image. The IDAT
    * stream is split into TWO chunks mid-stream — valid per the spec
    * (IDAT boundaries are arbitrary), fatal to a decoder that inflates
    * only the first chunk. */
  def pixelPng(id: Long): Array[Byte] = {
    val w = pngPxWidth(id); val h = pngPxHeight(id)
    val interlaced = pngInterlaced(id)
    val paletted = pngPaletted(id)
    // Palette in raster first-occurrence order — deterministic, so the
    // staged bytes are stable across runs.
    val palette = scala.collection.mutable.LinkedHashMap[(Int, Int, Int), Int]()
    if (paletted)
      for (y <- 0 until h; x <- 0 until w) {
        val key = (pxByte(id, x, y, 0), pxByte(id, x, y, 1), pxByte(id, x, y, 2))
        if (!palette.contains(key)) palette(key) = palette.size
      }
    val bpp = if (paletted) 1 else 3
    val rawOut = new java.io.ByteArrayOutputStream()
    var lineNo = 0
    for (pass <- scanlinePlan(w, h, interlaced)) {
      var prev: Array[Int] = null // reconstructed previous scanline OF THIS PASS
      for ((y, xs) <- pass) {
        val filter = lineNo % 5
        rawOut.write(filter)
        val cur = new Array[Int](xs.length * bpp)
        var i = 0
        while (i < cur.length) {
          cur(i) =
            if (paletted)
              palette((pxByte(id, xs(i), y, 0), pxByte(id, xs(i), y, 1), pxByte(id, xs(i), y, 2)))
            else pxByte(id, xs(i / bpp), y, i % bpp)
          i += 1
        }
        i = 0
        while (i < cur.length) {
          val v = cur(i)
          val a = if (i >= bpp) cur(i - bpp) else 0
          val b = if (prev != null) prev(i) else 0
          val cc = if (i >= bpp && prev != null) prev(i - bpp) else 0
          val f = filter match {
            case 0 => v
            case 1 => v - a
            case 2 => v - b
            case 3 => v - (a + b) / 2
            case 4 => v - paeth(a, b, cc)
          }
          rawOut.write(f & 0xff)
          i += 1
        }
        prev = cur
        lineNo += 1
      }
    }
    val raw = rawOut.toByteArray
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](raw.length + 64)
    var zLen = 0
    while (!deflater.finished()) zLen += deflater.deflate(buf, zLen, buf.length - zLen)
    deflater.end()
    val z = java.util.Arrays.copyOf(buf, zLen)
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h).put(8.toByte)
      .put((if (paletted) 3 else 2).toByte) // 8-bit palette or truecolor
      .put(0.toByte).put(0.toByte)
      .put((if (interlaced) 1 else 0).toByte)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val plte =
      if (!paletted) Array.emptyByteArray
      else {
        val p = new Array[Byte](palette.size * 3)
        palette.foreach { case ((r, g, b), idx) =>
          p(idx * 3) = r.toByte; p(idx * 3 + 1) = g.toByte; p(idx * 3 + 2) = b.toByte
        }
        pngChunk("PLTE", p)
      }
    val split = z.length / 2 // two IDATs: concat across chunks is mandatory
    sig ++ pngChunk("IHDR", ihdr.array()) ++ plte ++
      pngChunk("IDAT", java.util.Arrays.copyOfRange(z, 0, split)) ++
      pngChunk("IDAT", java.util.Arrays.copyOfRange(z, split, z.length)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  /** REAL full-pixel decode for 8-bit truecolor RGB PNG, pure JVM: a
    * chunk walk (every CRC verified) concatenating ALL IDAT payloads,
    * zlib inflation via java.util.zip.Inflater, then scanline
    * UNFILTERING — the inverse of all five PNG filter types, where Sub /
    * Average / Paeth predict from already-reconstructed neighbor bytes,
    * so a single wrong predictor corrupts every later scanline and the
    * position-weighted oracle moment catches it. ALL FOUR storage
    * layouts decode: sequential and ADAM7-interlaced (the seven passes
    * unfilter as independent sub-images — predictors reset per pass —
    * then scatter to image coordinates) × truecolor RGB and
    * PALETTE-indexed (color type 3: PLTE required before the first IDAT,
    * 1 filtered byte per pixel, indices resolved through the palette at
    * scatter time so the emitted statistics are layout-invariant; an
    * index past the palette refuses). None for anything outside this
    * profile (alpha, 16-bit, grayscale) or that fails a CRC, the
    * inflate, or the exact per-layout raw length. */
  def decodePngPixels(media: Array[Byte]): Option[DecodedPixels] = {
    val hdr = decodePng(media) // signature + IHDR + CRC validation
    hdr match {
      case Some((w, h, 8, ct)) if (ct == 2 || ct == 3) && w <= 4096 && h <= 4096 =>
        def u32(off: Int): Long =
          ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
            ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
        val interlace = media(28) & 0xff
        if (interlace > 1) return None // 0 = sequential, 1 = Adam7
        // Walk chunks from after IHDR (offset 33), collecting IDAT data
        // (and, for the palette profile, the PLTE — which the spec
        // REQUIRES before the first IDAT for color type 3).
        val idat = new java.io.ByteArrayOutputStream()
        var plte: Array[Byte] = null
        var off = 33
        var ended = false
        while (!ended) {
          if (off + 8 > media.length) return None
          val len = u32(off)
          if (len > Int.MaxValue - 12 || off + 12 + len > media.length) return None
          val typ = new String(media, off + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
          val crc = new java.util.zip.CRC32
          crc.update(media, off + 4, 4 + len.toInt)
          if (crc.getValue != u32(off + 8 + len.toInt)) return None
          if (typ == "PLTE") {
            // Exactly one PLTE of 1..256 whole RGB entries, per spec.
            if (plte != null || len == 0 || len % 3 != 0 || len > 768) return None
            plte = java.util.Arrays.copyOfRange(media, off + 8, off + 8 + len.toInt)
          }
          if (typ == "IDAT") {
            if (ct == 3 && plte == null) return None // PLTE must precede IDAT
            idat.write(media, off + 8, len.toInt)
          }
          if (typ == "IEND") ended = true
          off += 12 + len.toInt
        }
        val bpp = if (ct == 3) 1 else 3
        val plan = scanlinePlan(w, h, interlace == 1)
        val expect = plan.map(_.iterator.map { case (_, xs) => 1 + xs.length * bpp }.sum).sum
        val raw = new Array[Byte](expect)
        val inflater = new java.util.zip.Inflater()
        inflater.setInput(idat.toByteArray)
        try {
          var got = 0
          while (got < expect && !inflater.finished()) {
            val n = inflater.inflate(raw, got, expect - got)
            if (n == 0 && inflater.needsInput()) return None // truncated stream
            got += n
          }
          if (got != expect) return None
          // The exact-raw-length contract cuts BOTH ways: a zlib stream
          // still carrying data past the expected scanline bytes is as
          // malformed as a short one — probe one extra byte and require
          // the stream to be finished.
          if (!inflater.finished() &&
              inflater.inflate(new Array[Byte](1), 0, 1) > 0) return None
        } catch {
          case _: java.util.zip.DataFormatException => return None
        } finally inflater.end()
        // Unfilter pass by pass, scattering into image coordinates —
        // always as RGB: palette indices resolve through the PLTE here,
        // so the emitted statistics are layout-invariant.
        val px = new Array[Int](h * w * 3)
        var pos = 0
        for (pass <- plan) {
          var prev: Array[Int] = null // reconstructed previous scanline OF THIS PASS
          for ((y, xs) <- pass) {
            val filter = raw(pos) & 0xff; pos += 1
            if (filter > 4) return None
            val n = xs.length * bpp
            val cur = new Array[Int](n)
            var i = 0
            while (i < n) {
              val f = raw(pos + i) & 0xff
              val a = if (i >= bpp) cur(i - bpp) else 0
              val b = if (prev != null) prev(i) else 0
              val c = if (i >= bpp && prev != null) prev(i - bpp) else 0
              val v = filter match {
                case 0 => f
                case 1 => f + a
                case 2 => f + b
                case 3 => f + (a + b) / 2
                case 4 => f + paeth(a, b, c)
              }
              cur(i) = v & 0xff
              i += 1
            }
            pos += n
            i = 0
            if (ct == 3) {
              val nEntries = plte.length / 3
              while (i < n) {
                val idx = cur(i)
                if (idx >= nEntries) return None // index outside the palette
                val base = (y * w + xs(i)) * 3
                px(base) = plte(idx * 3) & 0xff
                px(base + 1) = plte(idx * 3 + 1) & 0xff
                px(base + 2) = plte(idx * 3 + 2) & 0xff
                i += 1
              }
            } else {
              while (i < n) {
                px((y * w + xs(i / bpp)) * bpp + i % bpp) = cur(i)
                i += 1
              }
            }
            prev = cur
          }
        }
        Some(sumPixels(w, h, (x, y2, c) => px((y2 * w + x) * 3 + c)))
      case _ => None
    }
  }

  /** Pixel/sample-staged media table: doc_id % 4 == 0 payloads are a
    * COMPLETE 24-bit BMP (real pixel array from [[pixelBmp]]),
    * % 4 == 2 a COMPLETE binary PPM ([[pixelPpm]]), % 4 == 1 a COMPLETE
    * mono PCM WAV with real samples ([[pcmWav]]), and % 4 == 3 stays
    * bare text — so every pixel/sample gate must dispatch on real magic
    * bytes and the three decode layouts never collide. Unlike the
    * metadata staging, the payloads here are FULLY synthetic from doc_id
    * (the oracle needs closed-form pixel values); the text column only
    * contributes the row set. */
  def pixelTableStaged(s: SparkSession, dir: String): DataFrame =
    pixelMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  /** The pixel staging over ANY (doc_id, source) frame — lets the stress
    * harness stage replicated corpora through the same code path. */
  def pixelMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 4 == 0) pixelBmp(id)
          else if (id % 4 == 2) pixelPpm(id)
          else if (id % 4 == 1) pcmWav(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** PNG-pixel-staged media table: every 3rd doc's payload is a COMPLETE
    * spec-conformant RGB PNG (deflated IDAT, all five filters, two IDAT
    * chunks), the rest stay bare text — its own table (not part of
    * [[pixelTableStaged]]'s mod-4 scheme) so the full-PNG corpus can
    * grow independently, mirroring [[audioTableStaged]]. */
  def pngPixelTableStaged(s: SparkSession, dir: String): DataFrame =
    pngPixelMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  /** Per-image pixel statistics row the pixel decode passes emit. */
  case class PixelStats(doc_id: Long, source: String, width: Int, height: Int,
                        r_sum: Long, g_sum: Long, b_sum: Long,
                        r_moment: Long, tl_luma: Long)

  /** BMP pixel-decode pass: rows whose bytes fully decode as uncompressed
    * 24-bit BMP yield [[PixelStats]]; everything else (PPM, WAV, bare) is
    * dropped by the flatMap — the decode itself is the filter. */
  def decodedBmpPixels(s: SparkSession, dir: String): DataFrame =
    decodedBmpPixelsOf(s, pixelTableStaged(s, dir))

  def decodedBmpPixelsOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeBmpPixels(r.media).map(p =>
          PixelStats(r.doc_id, r.source, p.width, p.height, p.rSum, p.gSum,
            p.bSum, p.rMoment, p.tlLuma))
      })
      .toDF()
  }

  /** Full-PNG pixel-decode pass over the PNG-staged corpus, same
    * contract as [[decodedBmpPixels]]: the decode is the filter. */
  def decodedPngPixels(s: SparkSession, dir: String): DataFrame =
    decodedPngPixelsOf(s, pngPixelTableStaged(s, dir))

  def decodedPngPixelsOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodePngPixels(r.media).map(p =>
          PixelStats(r.doc_id, r.source, p.width, p.height, p.rSum, p.gSum,
            p.bSum, p.rMoment, p.tlLuma))
      })
      .toDF()
  }

  /** The PNG staging over ANY (doc_id, source) frame (stress harness). */
  def pngPixelMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 0) pixelPng(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  // ---- WebDataset media shards (the mm_wds_pipeline arrival fixture) ----

  /** Per-member pixel stats keyed by the member NAME — tar pipelines key
    * samples by path inside the shard, not by a numeric doc id. */
  case class NamedPixelStats(name: String, site: String, width: Int, height: Int,
                             r_sum: Long, g_sum: Long, b_sum: Long,
                             r_moment: Long, tl_luma: Long)

  /** PNG decode pass over (name, site, data) member rows, decode-as-
    * filter like every pixel pass: JSON sidecars and anything else that
    * is not a conformant RGB PNG drop out of the flatMap. */
  def decodedPngMembers(s: SparkSession, members: DataFrame): DataFrame = {
    import s.implicits._
    members.select(col("name"), col("site"), col("data"))
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (name, site, data) =>
        decodePngPixels(data).map(p =>
          NamedPixelStats(name, site, p.width, p.height, p.rSum, p.gSum,
            p.bSum, p.rMoment, p.tlLuma))
      })
      .toDF()
  }

  /** WebDataset media fixture: 8 tar shards; shard f carries a directory
    * member d{f}/ then 4 + f%3 samples; sample i (key = f·100+i):
    *   d{f}/w{key}.png  = [[pixelPng]](img),  img = 3·((f·5 + i·7) mod 9)
    *   d{f}/w{key}.json = {"k":key,"img":img}
    * NINE distinct images shared across all 38 samples — the content-
    * dedup stage's duplicates exist by construction, and odd img ids
    * stage ADAM7-interlaced so the pipeline decodes both layouts. */
  def wdsFixtureFiles(dir: String): Seq[String] =
    (0 until 8).map(f => f"$dir/wds$f%02d.tar")

  private[graft] def wdsShard(f: Int): Array[Byte] = {
    import graft.sources.TarSource.{archive, member}
    val ms = Seq.newBuilder[Array[Byte]]
    ms += member(s"d$f/", '5', Array.emptyByteArray)
    (0 until (4 + f % 3)).foreach { i =>
      val key = f * 100 + i
      val img = 3L * ((f * 5 + i * 7) % 9)
      ms += member(s"d$f/w$key.png", '0', pixelPng(img))
      ms += member(s"d$f/w$key.json", '0',
        s"""{"k":$key,"img":$img}""".getBytes("US-ASCII"))
    }
    archive(ms.result())
  }

  // V2: pixelPng gained the palette profile — shards must restage so
  // the pipeline actually carries color-type-3 members.
  def stageWdsFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WDS_MEDIA_V2", wdsFixtureFiles(dir))(wdsShard)

  // ---- WebDataset AUDIO shards (the mm_wds_audio_pipeline fixture) ----
  //
  // The audio twin of [[wdsShard]]: 12 tar shards of WAV + JSON sample
  // members. The WAV payloads draw from a POOL of 10 distinct PCM
  // streams (aid = 4·((f·3 + i·5) % 10) — multiples of 4 so
  // [[pcmChannels]] mixes mono and stereo), so identical audio recurs
  // across shards and the content-dedup stage has real work.

  def wdsAudioFixtureFiles(dir: String): Seq[String] =
    (0 until 12).map(f => f"$dir/wdsa$f%02d.tar")

  private[graft] def wdsAudioShard(f: Int): Array[Byte] = {
    import graft.sources.TarSource.{archive, member}
    val ms = Seq.newBuilder[Array[Byte]]
    ms += member(s"d$f/", '5', Array.emptyByteArray)
    (0 until (4 + f % 3)).foreach { i =>
      val key = f * 100 + i
      val aid = 4L * ((f * 3 + i * 5) % 10)
      ms += member(s"d$f/a$key.wav", '0', pcmWav(aid))
      ms += member(s"d$f/a$key.json", '0',
        s"""{"k":$key,"aid":$aid}""".getBytes("US-ASCII"))
    }
    archive(ms.result())
  }

  def stageWdsAudioFixture(dir: String): Seq[String] =
    graft.Stage.files(dir, "_STAGED_WDS_AUDIO_V1", wdsAudioFixtureFiles(dir))(wdsAudioShard)

  /** One decoded WAV member row (the [[DecodedPcm]] statistics keyed by
    * shard + member name) — the audio twin of decodedPngMembers. */
  case class WavMemberStats(file: String, name: String, n_samples: Long,
                            sum_abs: Long, sum_sq: Long, max_s: Int,
                            min_s: Int, channels: Int, mom0: Long, mom1: Long)

  /** WAV sample decode over a TarSource.members-shaped frame: the decode
    * is the filter (JSON sidecars and non-WAV members drop out). */
  def decodedWavMembers(s: SparkSession, members: DataFrame): DataFrame = {
    import s.implicits._
    members
      .select(col("file"), col("name"), col("data"))
      .as[(String, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (file, name, data) =>
        decodeWavPcm(data).map(p =>
          WavMemberStats(file, name, p.nSamples, p.sumAbs, p.sumSq,
            p.maxS, p.minS, p.channels, p.mom0, p.mom1))
      })
      .toDF()
  }

  /** PPM pixel-decode pass, same contract as [[decodedBmpPixels]]. */
  def decodedPpmPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pixelTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodePpmPixels(r.media).map(p =>
          PixelStats(r.doc_id, r.source, p.width, p.height, p.rSum, p.gSum,
            p.bSum, p.rMoment, p.tlLuma))
      })
      .toDF()
  }

  /** Per-thumbnail statistics row the EXECUTED resize emits (vs
    * mm_resize_plan, which only computes target dims). */
  case class ThumbStats(doc_id: Long, source: String, width: Int, height: Int,
                        t_r: Long, t_g: Long, t_b: Long, t_moment: Long)

  /** EXECUTED nearest-neighbor resize to a t×t thumbnail over the
    * decoded BMP pixel array: output pixel (ox, oy) samples source
    * pixel (ox·w/t, oy·h/t) — integer floor, the top-left convention —
    * which both DOWNscales (w,h > t) and UPscales (some staged widths
    * are 3 < t = 4, duplicating source columns) in one rule the oracle
    * replicates with integer division. The moment column weighs each
    * sampled R by its thumbnail raster position, so a wrong sample
    * coordinate (center convention, transposed axes, clamped edges)
    * breaks the hash even when the sums collide. */
  def resizedBmpThumbs(s: SparkSession, dir: String, t: Int = 4): DataFrame = {
    import s.implicits._
    pixelTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        bmpPixelAccessor(r.media).map { case (w, h, at) =>
          var tr = 0L; var tg = 0L; var tb = 0L; var tm = 0L
          var oy = 0
          while (oy < t) {
            var ox = 0
            while (ox < t) {
              val sx = ox * w / t; val sy = oy * h / t
              val rv = at(sx, sy, 0)
              tr += rv; tg += at(sx, sy, 1); tb += at(sx, sy, 2)
              tm += (oy.toLong * t + ox) * rv
              ox += 1
            }
            oy += 1
          }
          ThumbStats(r.doc_id, r.source, w, h, tr, tg, tb, tm)
        }
      })
      .toDF()
  }

  /** Per-stream PCM sample statistics row the sample decode pass emits. */
  case class PcmStats(doc_id: Long, source: String, n_samples: Long,
                      sum_abs: Long, sum_sq: Long, max_s: Int, min_s: Int,
                      channels: Int, mom0: Long, mom1: Long)

  /** PCM sample-decode pass over the pixel-staged corpus: rows whose
    * bytes decode as mono/stereo 16-bit PCM WAV yield [[PcmStats]]. */
  def decodedWavPcm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pixelTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeWavPcm(r.media).map(p =>
          PcmStats(r.doc_id, r.source, p.nSamples, p.sumAbs, p.sumSq,
            p.maxS, p.minS, p.channels, p.mom0, p.mom1))
      })
      .toDF()
  }

  case class PcmEnergyStats(doc_id: Long, source: String, n_windows: Int,
                            e_total: Long, e_max: Long, e_moment: Long,
                            channels: Int)

  /** Windowed-energy pass over the pixel-staged corpus. */
  def decodedWavEnergy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pixelTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeWavEnergy(r.media).map(p =>
          PcmEnergyStats(r.doc_id, r.source, p.nWindows, p.eTotal, p.eMax,
            p.eMoment, p.channels))
      })
      .toDF()
  }

  case class DftStats(doc_id: Long, source: String, n_frames: Long,
                      x1: Long, p1_e6: Long, x2: Long, p2_e6: Long,
                      x3: Long, p3_e6: Long, dom_bin: Int)

  /** Spectral-correlation pass over the pixel-staged corpus (see
    * [[decodeWavDft]]). */
  def decodedWavDft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pixelTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeWavDft(r.media).map(p =>
          DftStats(r.doc_id, r.source, p.nFrames, p.x1, p.p1E6, p.x2, p.p2E6,
            p.x3, p.p3E6, p.domBin))
      })
      .toDF()
  }

  // ---------------------------------------------------------------- GIF

  /** Typed animation metadata [[decodeGif]] extracts per GIF payload. */
  case class GifMeta(doc_id: Long, source: String, bytes: Long,
                     version: String, width: Int, height: Int,
                     gct_colors: Int, n_frames: Int, data_bytes: Long)

  /** REAL metadata parse for the GIF container (the public GIF87a/89a
    * spec) — the sixth format, and the first whose frame count requires
    * walking LENGTH-PREFIXED SUB-BLOCK CHAINS: after the 6-byte magic and
    * the little-endian logical screen descriptor (+ optional global color
    * table of 3·2^(N+1) bytes), the file is a block sequence — 0x21
    * extensions (label + sub-block chain), 0x2C image descriptors (9-byte
    * LE geometry + optional LOCAL color table + LZW min-code byte + the
    * compressed-data sub-block chain), 0x3B trailer. A sub-block chain is
    * (len byte, len bytes)… until a 0 len — so counting frames means
    * skipping every chain EXACTLY; any off-by-one desynchronizes the walk
    * and the strict block dispatch below aborts to None. Bytes after the
    * trailer are ignored (trailing garbage is ubiquitous in the wild and
    * the staging appends the doc payload there on purpose). Returns
    * (version, width, height, global-palette colors or 0, frame count,
    * total LZW sub-block payload bytes — the length-walk pin). */
  def decodeGif(media: Array[Byte]): Option[(String, Int, Int, Int, Int, Long)] = {
    if (media.length < 13) return None
    val magic = new String(media, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def u16(off: Int): Int = (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8)
    val width = u16(6); val height = u16(8)
    val packed = media(10) & 0xff
    val gctColors = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    var off = 13 + (if (gctColors > 0) 3 * gctColors else 0)
    // Walks a sub-block chain starting at `p`; returns (bytes walked
    // EXCLUDING the terminator's len byte, position after terminator),
    // or None when the chain runs off the buffer.
    def subBlocks(p0: Int): Option[(Long, Int)] = {
      var p = p0; var total = 0L
      while (p < media.length && (media(p) & 0xff) != 0) {
        val len = media(p) & 0xff
        if (p + 1 + len > media.length) return None
        total += len
        p += 1 + len
      }
      if (p >= media.length) None else Some((total, p + 1))
    }
    var frames = 0
    var dataBytes = 0L
    while (off < media.length) {
      (media(off) & 0xff) match {
        case 0x3b => // trailer: done; trailing bytes are ignored
          return Some((magic.substring(3), width, height, gctColors, frames, dataBytes))
        case 0x21 => // extension: label byte + sub-block chain
          if (off + 2 > media.length) return None
          subBlocks(off + 2) match {
            case Some((_, next)) => off = next
            case None => return None
          }
        case 0x2c => // image descriptor
          if (off + 10 > media.length) return None
          val ipacked = media(off + 9) & 0xff
          val lct = if ((ipacked & 0x80) != 0) 3 * (1 << ((ipacked & 0x07) + 1)) else 0
          val lzwAt = off + 10 + lct
          if (lzwAt + 1 > media.length) return None
          subBlocks(lzwAt + 1) match {
            case Some((n, next)) => frames += 1; dataBytes += n; off = next
            case None => return None
          }
        case _ => return None // unknown block byte: desynchronized or corrupt
      }
    }
    None // EOF before the trailer: truncated
  }

  /** The staged GIF parameters for doc `id` — pure doc_id arithmetic so
    * the DuckDB oracle replicates what the staging WROTE while Spark
    * re-derives them by walking real bytes. id%4==1 rows have NO global
    * palette (the walk must not skip phantom bytes), (id+j)%2==0 frames
    * carry a graphic-control extension, id%7==0 files open with a
    * two-sub-block comment extension, and frame 1 of id%5==0 files has a
    * LOCAL color table — each a distinct skip the walk must get exactly
    * right to stay synchronized. */
  def gifVersion(id: Long): String = if (id % 2 == 0) "89a" else "87a"
  def gifWidth(id: Long): Int = ((id * 3) % 500 + 10).toInt
  def gifHeight(id: Long): Int = ((id * 7) % 300 + 10).toInt
  def gifGctColors(id: Long): Int =
    if (id % 4 == 1) 0 else 1 << ((id % 8) + 1).toInt
  def gifFrames(id: Long): Int = (1 + id % 4).toInt
  def gifSub1(id: Long, j: Int): Int = (1 + (id * 13 + j * 7) % 200).toInt
  def gifSub2(id: Long, j: Int): Int = (1 + (id * 11 + j * 3) % 150).toInt

  /** A COMPLETE valid GIF (header through trailer) for doc `id`. */
  private[multimodal] def gifBytes(id: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    out ++= s"GIF${gifVersion(id)}".getBytes("US-ASCII")
    val w = gifWidth(id); val h = gifHeight(id)
    out += (w & 0xff).toByte += ((w >> 8) & 0xff).toByte
    out += (h & 0xff).toByte += ((h >> 8) & 0xff).toByte
    val gct = gifGctColors(id)
    val packed =
      if (gct > 0) 0x80 | ((id % 8).toInt & 0x07) else 0x00
    out += packed.toByte += 0.toByte += 0.toByte // bg index, aspect
    for (i <- 0 until 3 * gct) out += ((i * 7 + id) % 251).toByte
    if (id % 7 == 0) { // comment extension, two sub-blocks
      out += 0x21.toByte += 0xfe.toByte
      out += 5.toByte; out ++= "graft".getBytes("US-ASCII")
      out += 3.toByte; out ++= "gif".getBytes("US-ASCII")
      out += 0.toByte
    }
    for (j <- 0 until gifFrames(id)) {
      if ((id + j) % 2 == 0) { // graphic control extension
        out += 0x21.toByte += 0xf9.toByte += 4.toByte
        out += 0.toByte += 10.toByte += 0.toByte += 0.toByte // delay 10cs
        out += 0.toByte
      }
      out += 0x2c.toByte // image descriptor
      out += 0.toByte += 0.toByte += 0.toByte += 0.toByte // left, top
      out += (w & 0xff).toByte += ((w >> 8) & 0xff).toByte
      out += (h & 0xff).toByte += ((h >> 8) & 0xff).toByte
      val lctExp = (id % 3).toInt
      val hasLct = j == 1 && id % 5 == 0
      out += (if (hasLct) (0x80 | lctExp) else 0x00).toByte
      if (hasLct) for (i <- 0 until 3 * (1 << (lctExp + 1)))
        out += ((i * 5 + id) % 249).toByte
      out += 8.toByte // LZW min code size
      val l1 = gifSub1(id, j); val l2 = gifSub2(id, j)
      out += l1.toByte; for (i <- 0 until l1) out += ((i + id + j) % 253).toByte
      out += l2.toByte; for (i <- 0 until l2) out += ((i * 3 + id) % 247).toByte
      out += 0.toByte // chain terminator
    }
    out += 0x3b.toByte // trailer
    out.result()
  }

  /** GIF-staged media table: every 3rd doc becomes a COMPLETE staged GIF
    * with the doc payload appended AFTER the trailer (real files often
    * carry trailing junk; the walk must stop at 0x3B, not at EOF), the
    * rest stay bare — the animation pass must dispatch on real bytes. */
  def gifTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 3 == 0) gifBytes(id) ++ payload
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** Animation-metadata pass over the GIF-staged mixed corpus: rows whose
    * bytes survive the block walk yield [[GifMeta]]; bare payloads fail
    * the magic check and are dropped by the parse itself. */
  def decodedGif(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gifTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeGif(r.media).map { case (ver, w, h, gct, frames, db) =>
          GifMeta(r.doc_id, r.source, r.media.length.toLong, ver, w, h,
            gct, frames, db)
        }
      })
      .toDF()
  }

  // ------------------------------------------------- GIF pixel decode
  //
  // The second losslessly-compressed format closed pure-JVM (after PNG):
  // GIF's pixel data is LZW with variable-width codes (GIF89a spec,
  // Appendix F) — deterministic, codec-library-free, and every decoder
  // decision (code width growth, CLEAR resets, the KwKwK code==next
  // case, palette indirection) is pinned by the closed-form oracle.

  /** Staged pixel-GIF dims — distinct arithmetic from every other staged
    * family (BMP ≤16×12, PPM ≤17×13, PNG ≤17×11); up to 40×30 here so
    * the LZW streams outgrow 9-bit codes and cross the deterministic
    * CLEAR threshold in larger images. */
  def gifPxWidth(id: Long): Int = (((id * 5) % 33) + 8).toInt
  def gifPxHeight(id: Long): Int = (((id * 11) % 25) + 6).toInt

  /** Palette INDEX of pixel (x, y) of staged GIF `id`. The x/5 term gives
    * horizontal runs of five equal indices, which force the LZW KwKwK
    * special case (the decoder receives a code it has not defined yet) in
    * every staged image — a decoder without that branch fails the oracle
    * corpus-wide, not probabilistically. */
  def gifPxIndex(id: Long, x: Int, y: Int): Int =
    ((id * 31 + (x / 5) * 7L + y * 13L) % 256).toInt

  /** Palette channel `c` of entry `k` of staged GIF `id` — three coprime
    * affine rules mod 251, so a palette off-by-one, a channel swap, or
    * reading the palette from the wrong offset all break the hash. */
  def gifPalette(id: Long, k: Int, c: Int): Int = c match {
    case 0 => ((k * 3L + id) % 251).toInt
    case 1 => ((k * 5L + id * 2) % 251).toInt
    case _ => ((k * 7L + id * 3) % 251).toInt
  }

  /** GIF-LZW encoder (GIF89a spec, Appendix F): variable-width codes
    * packed LSB-first, an opening CLEAR, code width growing after the
    * entry that fills the current width (cap 12 bits), and an explicit
    * CLEAR + table reset both when the table would overflow 4096 and
    * deterministically every 397 added entries — so the staged streams
    * exercise mid-stream resets and ≥10-bit codes, not just the happy
    * path. Used by the fixture staging only; the decode side is
    * [[lzwDecode]]. */
  private[multimodal] def lzwEncode(indices: Array[Int], minCodeSize: Int): Array[Byte] = {
    require(minCodeSize >= 2 && minCodeSize <= 8 && indices.nonEmpty)
    val clear = 1 << minCodeSize; val eoi = clear + 1
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    var codeSize = minCodeSize + 1
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeSize
      while (bitCnt >= 8) {
        out.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8
      }
    }
    // WRITE width is governed by a MIRROR of the decoder's dictionary
    // counter, not by the encoder's own table adds: the decoder adds one
    // entry after EVERY data code except the first since a CLEAR (capped
    // at 4096) and widens its reads when that counter fills the current
    // width — so the encoder must widen at exactly those code
    // boundaries, INCLUDING after the final flushed prefix (before EOI)
    // and before a mid-stream CLEAR. An add-driven encoder-side rule is
    // identical mid-stream but desyncs by one bit when the stream ends
    // (or clears) exactly on a width boundary — the decoder then reads
    // the EOI/CLEAR one bit wider than written and rejects a valid
    // stream (round-13 review finding; regression-pinned in GifLzwSpec).
    var dNext = eoi + 1
    var firstData = true
    def emitData(code: Int): Unit = {
      emit(code)
      if (firstData) firstData = false
      else if (dNext < 4096) {
        dNext += 1
        if (dNext == (1 << codeSize) && codeSize < 12) codeSize += 1
      }
    }
    var table = scala.collection.mutable.HashMap.empty[Long, Int]
    var next = eoi + 1
    var added = 0
    emit(clear)
    var prefix = indices(0)
    var i = 1
    while (i < indices.length) {
      val k = indices(i)
      val key = (prefix.toLong << 12) | k
      table.get(key) match {
        case Some(code) => prefix = code
        case None =>
          emitData(prefix)
          if (next < 4096 && added < 397) {
            table(key) = next; next += 1; added += 1
          } else {
            emit(clear) // at the (possibly just-widened) current width
            table = scala.collection.mutable.HashMap.empty
            codeSize = minCodeSize + 1
            next = eoi + 1; added = 0
            dNext = eoi + 1; firstData = true
          }
          prefix = k
      }
      i += 1
    }
    emitData(prefix); emit(eoi)
    if (bitCnt > 0) out.write((bitBuf & 0xff).toInt)
    out.toByteArray
  }

  /** GIF-LZW decoder — the exact inverse discipline: LSB-first
    * variable-width reads, a dictionary rebuilt one entry BEHIND the
    * encoder, the KwKwK case (code == next: the sequence is
    * prev-sequence + its own first symbol), CLEAR resets, EOI
    * termination, and width growth when the entry count fills the
    * current width. Returns None (never throws) on any invalid code, a
    * stream that ends before EOI, or output diverging from `expected`
    * pixels — totality is the contract, like every decoder here. */
  private[multimodal] def lzwDecode(data: Array[Byte], minCodeSize: Int,
                                    expected: Int): Option[Array[Int]] = {
    if (minCodeSize < 2 || minCodeSize > 8 || expected <= 0) return None
    val clear = 1 << minCodeSize; val eoi = clear + 1
    val out = new Array[Int](expected)
    var produced = 0
    var bitBuf = 0L; var bitCnt = 0; var pos = 0
    var codeSize = minCodeSize + 1
    def read(): Int = {
      while (bitCnt < codeSize && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << bitCnt; bitCnt += 8; pos += 1
      }
      if (bitCnt < codeSize) -1
      else {
        val c = (bitBuf & ((1L << codeSize) - 1)).toInt
        bitBuf >>>= codeSize; bitCnt -= codeSize; c
      }
    }
    val prefixOf = new Array[Int](4096)
    val suffixOf = new Array[Int](4096)
    val stack = new Array[Int](4097)
    var next = eoi + 1
    var prev = -1
    var done = false; var ok = true
    while (!done && ok) {
      val c = read()
      if (c < 0) ok = false // stream exhausted before EOI
      else if (c == clear) {
        next = eoi + 1; codeSize = minCodeSize + 1; prev = -1
      } else if (c == eoi) done = true
      else if (prev < 0) {
        // First code after a CLEAR must be a literal.
        if (c >= clear || produced >= expected) ok = false
        else { out(produced) = c; produced += 1; prev = c }
      } else if (c < clear || (c > eoi && c <= next)) {
        // Materialize the sequence for c (KwKwK: prev's sequence plus
        // its first symbol — the entry the encoder defined but this
        // decoder has not yet).
        var sp = 0
        var p = if (c == next) { stack(sp) = -1; sp = 1; prev } else c
        while (p > eoi) { stack(sp) = suffixOf(p); sp += 1; p = prefixOf(p) }
        stack(sp) = p; sp += 1
        val root = p // first symbol of the emitted sequence
        if (c == next) stack(0) = root // the appended KwKwK tail
        if (produced + sp > expected) ok = false
        else {
          while (sp > 0) { sp -= 1; out(produced) = stack(sp); produced += 1 }
          if (next < 4096) {
            prefixOf(next) = prev; suffixOf(next) = root; next += 1
            if (next == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = c
        }
      } else ok = false // code beyond the dictionary: corrupt stream
    }
    if (done && ok && produced == expected) Some(out) else None
  }

  /** Whether staged GIF `id` is written INTERLACED (GIF's 4-pass row
    * order) — every other staged image, so both storage orders are
    * exercised under the one mm_gif_pixels oracle (interlacing permutes
    * file row order only; the pixel model is unchanged, so a decoder
    * that ignores the flag or mis-orders a pass shifts the moment). */
  def gifInterlaced(id: Long): Boolean = id % 2 == 0

  /** Whether staged GIF `id` carries a LOCAL color table on its image
    * descriptor — the per-frame palette real GIFs use for multi-frame
    * color variety. The rule hits both interlace parities. When an LCT
    * is present the GLOBAL table is written as a DECOY (a different
    * id's palette), so the spec's override rule is load-bearing: a
    * decoder that keeps reading the GCT sums wrong colors and fails the
    * unchanged mm_gif_pixels oracle. */
  def gifLocalPalette(id: Long): Boolean = id % 5 == 2

  /** GIF 4-pass interlace row order (GIF89a spec §20): file row r holds
    * image row interlaceRows(h)(r) — passes start at rows 0/4/2/1 with
    * strides 8/8/4/2. */
  private[multimodal] def interlaceRows(h: Int): Array[Int] = {
    val out = Array.newBuilder[Int]
    var y = 0
    while (y < h) { out += y; y += 8 }
    y = 4; while (y < h) { out += y; y += 8 }
    y = 2; while (y < h) { out += y; y += 4 }
    y = 1; while (y < h) { out += y; y += 2 }
    out.result()
  }

  /** A COMPLETE GIF89a image for doc `id`: logical screen descriptor,
    * 256-entry global color table from [[gifPalette]], one full-frame
    * image descriptor (interlaced for [[gifInterlaced]] ids — rows
    * written in the 4-pass order), and REAL LZW-compressed pixel
    * indices ([[gifPxIndex]]) in ≤255-byte sub-blocks — sub-block
    * boundaries land mid-code, so a decoder that resets its bit buffer
    * per sub-block fails. */
  def pixelGif(id: Long): Array[Byte] = {
    val w = gifPxWidth(id); val h = gifPxHeight(id)
    val interlaced = gifInterlaced(id)
    val rowOf: Int => Int =
      if (interlaced) { val m = interlaceRows(h); m(_) } else identity
    val idx = new Array[Int](w * h)
    var r = 0
    while (r < h) {
      val y = rowOf(r)
      var x = 0
      while (x < w) { idx(r * w + x) = gifPxIndex(id, x, y); x += 1 }
      r += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(w); u16(h)
    out.write(0xf7) // GCT present, 8-bit color resolution, 2^8 entries
    out.write(0); out.write(0) // background index, aspect ratio
    val hasLct = gifLocalPalette(id)
    // With an LCT on the frame, the GCT becomes a decoy palette (a
    // different id's colors) — see gifLocalPalette's scaladoc.
    val gctId = if (hasLct) id + 7 else id
    var k = 0
    while (k < 256) {
      out.write(gifPalette(gctId, k, 0)); out.write(gifPalette(gctId, k, 1))
      out.write(gifPalette(gctId, k, 2))
      k += 1
    }
    out.write(0x2c); u16(0); u16(0); u16(w); u16(h)
    // Image descriptor packed byte: LCT flag + size (2^(7+1) = 256
    // entries) when local, plus the interlace flag.
    out.write((if (hasLct) 0x87 else 0x00) | (if (interlaced) 0x40 else 0x00))
    if (hasLct) {
      k = 0
      while (k < 256) {
        out.write(gifPalette(id, k, 0)); out.write(gifPalette(id, k, 1))
        out.write(gifPalette(id, k, 2))
        k += 1
      }
    }
    out.write(8) // LZW minimum code size
    val z = lzwEncode(idx, 8)
    var p = 0
    while (p < z.length) {
      val n = math.min(255, z.length - p)
      out.write(n); out.write(z, p, n); p += n
    }
    out.write(0) // sub-block chain terminator
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** REAL full-pixel decode for single-frame GIF, pure JVM: header +
    * screen descriptor, global color table, block walk to the first
    * image descriptor (extensions skipped by their sub-block chains),
    * local-palette override when present, sub-block concatenation,
    * [[lzwDecode]], the 4-pass INTERLACE row un-permutation when the
    * descriptor flags it, and palette indirection per pixel. None for
    * indices outside the palette, a frame with no palette at all, or
    * any LZW/framing failure. */
  def decodeGifPixels(media: Array[Byte]): Option[DecodedPixels] = {
    if (media.length < 14) return None
    val magic = new String(media, 0, 6, "US-ASCII")
    if (magic != "GIF87a" && magic != "GIF89a") return None
    def u16(off: Int): Int = (media(off) & 0xff) | ((media(off + 1) & 0xff) << 8)
    val packed = media(10) & 0xff
    val gctN = if ((packed & 0x80) != 0) 1 << ((packed & 0x07) + 1) else 0
    if (13 + 3 * gctN > media.length) return None
    var off = 13 + 3 * gctN
    val gctAt = 13
    def subBlocks(p0: Int, sink: java.io.ByteArrayOutputStream): Option[Int] = {
      var p = p0
      while (p < media.length && (media(p) & 0xff) != 0) {
        val len = media(p) & 0xff
        if (p + 1 + len > media.length) return None
        if (sink != null) sink.write(media, p + 1, len)
        p += 1 + len
      }
      if (p >= media.length) None else Some(p + 1)
    }
    while (off < media.length) {
      (media(off) & 0xff) match {
        case 0x3b => return None // trailer before any frame
        case 0x21 =>
          if (off + 2 > media.length) return None
          subBlocks(off + 2, null) match {
            case Some(nxt) => off = nxt
            case None => return None
          }
        case 0x2c =>
          if (off + 10 > media.length) return None
          val fw = u16(off + 5); val fh = u16(off + 7)
          val ipacked = media(off + 9) & 0xff
          val interlaced = (ipacked & 0x40) != 0
          if (fw <= 0 || fh <= 0 || fw > 4096 || fh > 4096) return None
          val lctN = if ((ipacked & 0x80) != 0) 1 << ((ipacked & 0x07) + 1) else 0
          val lctAt = off + 10
          if (lctAt + 3 * lctN + 1 > media.length) return None
          val (palAt, palN) = if (lctN > 0) (lctAt, lctN) else (gctAt, gctN)
          if (palN == 0) return None // no palette anywhere: undecodable
          val mcsAt = lctAt + 3 * lctN
          val mcs = media(mcsAt) & 0xff
          val z = new java.io.ByteArrayOutputStream()
          if (subBlocks(mcsAt + 1, z).isEmpty) return None
          return lzwDecode(z.toByteArray, mcs, fw * fh).flatMap { idx =>
            if (idx.exists(_ >= palN)) None // index outside the palette
            else {
              // File row r holds image row interlaceRows(fh)(r); invert
              // the permutation so (x, y) addresses image coordinates.
              val fileRowOf: Int => Int =
                if (interlaced) {
                  val inv = new Array[Int](fh)
                  val m = interlaceRows(fh)
                  var r = 0
                  while (r < fh) { inv(m(r)) = r; r += 1 }
                  inv(_)
                } else identity
              Some(sumPixels(fw, fh, (x, y, c) =>
                media(palAt + 3 * idx(fileRowOf(y) * fw + x) + c) & 0xff))
            }
          }
        case _ => return None
      }
    }
    None
  }

  /** GIF-pixel-staged media table: every 3rd doc's payload is a COMPLETE
    * LZW-compressed GIF ([[pixelGif]]), the rest stay bare text — its own
    * table, like the PNG pixel staging, so the decode must dispatch on
    * real magic bytes. */
  def gifPixelTableStaged(s: SparkSession, dir: String): DataFrame =
    gifPixelMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  /** The GIF pixel staging over ANY (doc_id, source) frame (stress). */
  def gifPixelMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 0) pixelGif(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** GIF pixel-decode pass, same contract as [[decodedPngPixels]]: the
    * decode is the filter. */
  def decodedGifPixels(s: SparkSession, dir: String): DataFrame =
    decodedGifPixelsOf(s, gifPixelTableStaged(s, dir))

  def decodedGifPixelsOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeGifPixels(r.media).map(p =>
          PixelStats(r.doc_id, r.source, p.width, p.height, p.rSum, p.gSum,
            p.bSum, p.rMoment, p.tlLuma))
      })
      .toDF()
  }

  // ------------------------------------ MP4 sample-table (demux) decode
  //
  // The honest MP4 gate below the metadata walk: actual CODEC payloads
  // stay stubbed (not bit-deterministic to decode), but the DEMUX layer
  // — the trak/mdia/minf/stbl sample tables that say where every sample
  // lives and how long it lasts — is pure big-endian integers (ISO
  // 14496-12 §8.5-8.7). Staged files carry a REAL box tree with stts /
  // stsz / stco tables from a closed-form model; the decoder walks the
  // tree and re-reads the tables while the oracle recomputes the model.

  def mp4SampleCount(id: Long): Int = (5 + (id % 7) * 3).toInt // 5..23
  def mp4SampleSize(id: Long, i: Int): Int = (100 + (id * 13 + i * 31) % 900).toInt
  /** stts first-run length ∈ [1, n-1] — two runs, so a decoder summing
    * only the first entry fails the duration audit. */
  def mp4SttsSplit(id: Long): Int = (1 + id % (mp4SampleCount(id) - 1)).toInt
  def mp4Delta1(id: Long): Int = (512 + id % 100).toInt
  def mp4Delta2(id: Long): Int = (1024 + id % 200).toInt
  /** Chunk count keys on id/3: staged ids are the %3==0 residue class,
    * where `1 + id % 3` was identically 1 — the stco dimension was
    * degenerate and its multi-entry path dead (review finding, the same
    * aliasing class as the JPEG height term; the spec now pins all
    * three chunk counts appearing). */
  def mp4ChunkCount(id: Long): Int = (1 + (id / 3) % 3).toInt
  def mp4ChunkOff(id: Long, j: Int): Long = 4096L + j * (65536L + id % 50000)
  def mp4MediaTimescale(id: Long): Int = (12288 + id % 1000).toInt

  /** Samples-per-chunk for chunk j (0-based): uniform q = n DIV (c+1)
    * (≥1) for every chunk before the last, remainder in the last — so
    * the stsc encodes in RUN form (one entry covering chunks 1..c−1,
    * §8.7.4's first_chunk semantics actually exercised) and the sample→
    * chunk map has the closed form min(i DIV q, c−1) the oracle
    * recomputes. The last chunk's count always differs from q (for
    * n ≥ 5, n − (c−1)q ≥ 2q > q), so samples-per-chunk VARIES within
    * every multi-chunk file. */
  def mp4Spc(id: Long, j: Int): Int = {
    val n = mp4SampleCount(id); val c = mp4ChunkCount(id)
    val q = math.max(1, n / (c + 1))
    if (j < c - 1) q else n - (c - 1) * q
  }

  /** ctts staging: present on 3/5 of staged files, keyed on (id/3) % 5 —
    * coprime with the chunk-count period 3, so composition offsets and
    * chunk structure vary independently. Version alternates 0/1 among
    * present files; VERSION 1 FILES CARRY A NEGATIVE SECOND-RUN OFFSET
    * (the signed form v0 cannot express). Two runs split at
    * [[mp4CttsSplit]], mirroring the stts two-run discipline. */
  def mp4CttsPresent(id: Long): Boolean = (id / 3) % 5 < 3
  def mp4CttsVersion(id: Long): Int = (((id / 3) % 5) % 2).toInt
  def mp4CttsSplit(id: Long): Int = (1 + (id / 3) % (mp4SampleCount(id) - 1)).toInt
  def mp4CttsOff1(id: Long): Int = (id % 300).toInt
  def mp4CttsOff2(id: Long): Int =
    if (mp4CttsVersion(id) == 0) (200 + id % 100).toInt
    else -(100 + id % 100).toInt

  private def mp4Box(tag: String, payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 + payload.length)
    b.putInt(8 + payload.length)
      .put(tag.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      .put(payload)
    b.array()
  }

  /** stss (sync-sample / keyframe table, §8.6.2) staging: present on
    * half the staged files (m = id/3 even — independent of the ctts
    * period 5), sync samples every k = 2 + m%3 samples starting at
    * sample 1 (1-based), so strides 2..4 all appear. Absent-stss files
    * pin the spec's default rule: EVERY sample is a sync sample. */
  def mp4StssPresent(id: Long): Boolean = (id / 3) % 2 == 0
  def mp4SyncStride(id: Long): Int = (2 + (id / 3) % 3).toInt
  def mp4SyncCount(id: Long): Int = {
    val n = mp4SampleCount(id); val k = mp4SyncStride(id)
    (n + k - 1) / k
  }

  /** A COMPLETE MP4 with a REAL sample-table tree for doc `id`:
    * ftyp → moov(mvhd v0, trak(tkhd, mdia(mdhd v0, hdlr, minf(stbl(stsd,
    * stts, ctts?, stss?, stsc, stsz, stco))))) → mdat. tkhd/hdlr/stsd
    * are skip-boxes the walk must pass by size; the tables carry the
    * closed-form model. */
  def sampleMp4(id: Long): Array[Byte] = {
    val be = java.nio.ByteOrder.BIG_ENDIAN
    def buf(n: Int) = java.nio.ByteBuffer.allocate(n).order(be)
    val n = mp4SampleCount(id)
    val a = mp4SttsSplit(id)
    val c = mp4ChunkCount(id)
    val stts = {
      val b = buf(8 + 16)
      b.putInt(0).putInt(2) // v0 flags0, two entries
        .putInt(a).putInt(mp4Delta1(id))
        .putInt(n - a).putInt(mp4Delta2(id))
      mp4Box("stts", b.array())
    }
    val stsz = {
      val b = buf(12 + 4 * n)
      b.putInt(0).putInt(0).putInt(n) // v0, sample_size=0 → per-sample table
      (0 until n).foreach(i => b.putInt(mp4SampleSize(id, i)))
      mp4Box("stsz", b.array())
    }
    val stco = {
      val b = buf(8 + 4 * c)
      b.putInt(0).putInt(c)
      (0 until c).foreach(j => b.putInt(mp4ChunkOff(id, j).toInt))
      mp4Box("stco", b.array())
    }
    val stsc = {
      // Run form: entry 1 covers chunks 1..c−1 at q samples each, entry
      // 2 the last chunk's remainder; single-chunk files get one entry.
      val q = mp4Spc(id, 0)
      val entries =
        if (c == 1) Seq((1, mp4SampleCount(id)))
        else Seq((1, q), (c, mp4Spc(id, c - 1)))
      val b = buf(8 + 12 * entries.size)
      b.putInt(0).putInt(entries.size)
      entries.foreach { case (fc, spc) => b.putInt(fc).putInt(spc).putInt(1) }
      mp4Box("stsc", b.array())
    }
    val ctts: Array[Byte] =
      if (!mp4CttsPresent(id)) Array.emptyByteArray
      else {
        val a2 = mp4CttsSplit(id)
        val b = buf(8 + 16)
        b.putInt(mp4CttsVersion(id) << 24).putInt(2) // version<<24 | flags 0
          .putInt(a2).putInt(mp4CttsOff1(id))
          .putInt(n - a2).putInt(mp4CttsOff2(id))
        mp4Box("ctts", b.array())
      }
    val stss: Array[Byte] =
      if (!mp4StssPresent(id)) Array.emptyByteArray
      else {
        val k = mp4SyncStride(id); val m = mp4SyncCount(id)
        val b = buf(8 + 4 * m)
        b.putInt(0).putInt(m)
        (0 until m).foreach(j => b.putInt(1 + j * k)) // 1-based sample numbers
        mp4Box("stss", b.array())
      }
    val stsd = mp4Box("stsd", buf(8).putInt(0).putInt(0).array()) // 0 entries
    val stbl = mp4Box("stbl", stsd ++ stts ++ ctts ++ stss ++ stsc ++ stsz ++ stco)
    val minf = mp4Box("minf", stbl)
    val mdhd = {
      val b = buf(24)
      b.putInt(0).putInt(0).putInt(0) // v0 flags0, creation, modification
        .putInt(mp4MediaTimescale(id))
        .putInt((a.toLong * mp4Delta1(id) + (n - a).toLong * mp4Delta2(id)).toInt)
        .putShort(0x55c4.toShort).putShort(0) // language "und", pre_defined
      mp4Box("mdhd", b.array())
    }
    val hdlr = {
      val b = buf(25)
      b.putInt(0).putInt(0)
        .put("vide".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        .putInt(0).putInt(0).putInt(0).put(0.toByte) // reserved + empty name
      mp4Box("hdlr", b.array())
    }
    val tkhd = mp4Box("tkhd", new Array[Byte](84)) // v0 all-zero: skip box
    val mdia = mp4Box("mdia", mdhd ++ hdlr ++ minf)
    val trak = mp4Box("trak", tkhd ++ mdia)
    val mvhd = {
      val b = buf(100)
      b.putInt(0).putInt(0).putInt(0) // v0 flags0, creation, modification
        .putInt(600).putInt(600)      // movie timescale / duration
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        .putInt(0).putInt(0)
        .putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
        .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
        .putInt(2)
      mp4Box("mvhd", b.array())
    }
    val moov = mp4Box("moov", mvhd ++ trak)
    val ftyp = {
      val b = buf(12)
      b.put("isom".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        .putInt(0)
        .put("mp41".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      mp4Box("ftyp", b.array())
    }
    val mdat = mp4Box("mdat", Array[Byte](0, 0, 0, 0))
    ftyp ++ moov ++ mdat
  }

  /** First `name` box inside [from, to): payload bounds, honoring the
    * u64 largesize form. None on any malformed size. */
  private def mp4FindBox(media: Array[Byte], name: String,
                         from: Int, to: Int): Option[(Int, Int)] = {
    def u32(off: Int): Long =
      ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
        ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
    var off = from
    while (off + 8 <= to) {
      val sz32 = u32(off)
      val (hdr, size): (Int, Long) =
        if (sz32 == 1L) {
          if (off + 16 > to) return None
          (16, (u32(off + 8) << 32) | u32(off + 12))
        } else (8, sz32)
      if (size < hdr || size > (to - off).toLong) return None
      if (new String(media, off + 4, 4,
          java.nio.charset.StandardCharsets.US_ASCII) == name)
        return Some((off + hdr, off + size.toInt))
      off += size.toInt
    }
    None
  }

  /** Per-track demux statistics the sample-table decode emits.
    * stscMoment = Σ_j j · (bytes of chunk j) from expanding stsc against
    * stsz — wrong sample→chunk mapping shifts it; cttsSum/cttsMoment are
    * the (signed) composition-offset total and Σ_i i · off_i (0 when no
    * ctts box); hasCtts distinguishes absent from all-zero. */
  final case class DecodedMp4Samples(nSamples: Int, totalBytes: Long,
                                     maxSize: Int, durUnits: Long,
                                     timescale: Int, nChunks: Int,
                                     chunkOffSum: Long, sizeMoment: Long,
                                     stscMoment: Long, hasCtts: Int,
                                     cttsSum: Long, cttsMoment: Long)

  /** REAL sample-table decode: the ftyp→moov→trak→mdia→(mdhd, minf→stbl)
    * walk, then the stts/stsz/stco tables — FullBox v0, strict bounds,
    * and the SPEC's cross-table consistency rule enforced: Σ stts
    * sample_counts must equal the stsz sample count (§8.6.1.2), so a
    * decoder reading either table wrong cannot validate. */
  def decodeMp4Samples(media: Array[Byte]): Option[DecodedMp4Samples] = {
    def u32(off: Int): Long =
      ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
        ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
    if (media.length < 16 || u32(0) < 16 || u32(0) > media.length ||
        new String(media, 4, 4, java.nio.charset.StandardCharsets.US_ASCII) != "ftyp")
      return None
    for {
      (ms, me) <- mp4FindBox(media, "moov", u32(0).toInt, media.length)
      (ts, te) <- mp4FindBox(media, "trak", ms, me)
      (ds, de) <- mp4FindBox(media, "mdia", ts, te)
      (hs, he) <- mp4FindBox(media, "mdhd", ds, de)
      if he - hs == 24 && u32(hs) == 0L // v0, flags 0
      timescale = u32(hs + 12)
      if timescale > 0 && timescale <= Int.MaxValue
      (ns, ne) <- mp4FindBox(media, "minf", ds, de)
      (bs, be) <- mp4FindBox(media, "stbl", ns, ne)
      (zs, ze) <- mp4FindBox(media, "stsz", bs, be)
      if ze - zs >= 12 && u32(zs) == 0L && u32(zs + 4) == 0L // per-sample sizes
      nSamples = u32(zs + 8)
      if nSamples > 0 && nSamples <= 65536 && ze - zs == 12 + 4 * nSamples
      (ss, se) <- mp4FindBox(media, "stts", bs, be)
      if se - ss >= 8 && u32(ss) == 0L
      nRuns = u32(ss + 4)
      if nRuns > 0 && se - ss == 8 + 8 * nRuns
      (cs, ce) <- mp4FindBox(media, "stco", bs, be)
      if ce - cs >= 8 && u32(cs) == 0L
      nChunks = u32(cs + 4)
      if nChunks > 0 && ce - cs == 8 + 4 * nChunks
      (xs, xe) <- mp4FindBox(media, "stsc", bs, be) // mandatory (§8.7.4)
      if xe - xs >= 8 && u32(xs) == 0L
      nStsc = u32(xs + 4)
      if nStsc > 0 && xe - xs == 8 + 12 * nStsc
      stats <- {
        var total = 0L; var maxSz = 0L; var moment = 0L
        var i = 0
        while (i < nSamples.toInt) {
          val sz = u32(zs + 12 + 4 * i)
          total += sz; if (sz > maxSz) maxSz = sz
          moment += i.toLong * sz
          i += 1
        }
        var dur = 0L; var counted = 0L
        var r = 0
        while (r < nRuns.toInt) {
          val cnt = u32(ss + 8 + 8 * r); val delta = u32(ss + 12 + 8 * r)
          dur += cnt * delta; counted += cnt
          r += 1
        }
        if (counted != nSamples || maxSz > Int.MaxValue)
          None // §8.6.1.2 cross-table consistency / implausible size
        else decodeMp4ChunkCtts(media, u32, nSamples.toInt, nChunks.toInt,
          zs, cs, xs, nStsc.toInt, bs, be).map {
          case (offSum, stscMoment, hasCtts, cttsSum, cttsMoment) =>
            DecodedMp4Samples(nSamples.toInt, total, maxSz.toInt, dur,
              timescale.toInt, nChunks.toInt, offSum, moment,
              stscMoment, hasCtts, cttsSum, cttsMoment)
        }
      }
    } yield stats
  }

  /** stsc expansion + optional ctts decode (split out of
    * [[decodeMp4Samples]] for readability; same strict-profile rules).
    *
    * stsc (§8.7.4): entries are (first_chunk, samples_per_chunk,
    * sample_description_index); first_chunk values must start at 1 and
    * strictly increase, an entry covers every chunk up to the next
    * entry's first_chunk (RUN semantics — the staged c=3 layout encodes
    * 3 chunks in 2 entries), and the expansion over the stco chunk count
    * must assign EXACTLY the stsz sample count — a mapping that runs
    * short or long is structurally inconsistent and refuses. The audit
    * moment Σ_j j · chunkBytes_j prices the expansion: any off-by-one in
    * run handling moves bytes between chunk indexes.
    *
    * ctts (§8.6.1.3): optional; FullBox version 0 (unsigned offsets) or
    * 1 (SIGNED offsets — negative composition shifts), flags 0; run
    * counts must cover exactly the sample count. Emits the signed offset
    * sum and the sample-index-weighted moment so run order and sign
    * handling are both load-bearing. */
  private def decodeMp4ChunkCtts(media: Array[Byte], u32: Int => Long,
      nSamples: Int, nChunks: Int, zs: Int, cs: Int, xs: Int, nStsc: Int,
      bs: Int, be: Int): Option[(Long, Long, Int, Long, Long)] = {
    var offSum = 0L
    var j = 0
    while (j < nChunks) { offSum += u32(cs + 8 + 4 * j); j += 1 }
    // Expand stsc: walk entries, each covering [fc, nextFc) chunks.
    var stscMoment = 0L
    var cursor = 0 // next unmapped sample (0-based)
    var prevFc = 0L
    var e = 0
    var ok = true
    while (ok && e < nStsc) {
      val fc = u32(xs + 8 + 12 * e)
      val spc = u32(xs + 12 + 12 * e)
      val sdi = u32(xs + 16 + 12 * e)
      val nextFc = if (e + 1 < nStsc) u32(xs + 8 + 12 * (e + 1)) else nChunks + 1L
      if (fc <= prevFc || fc > nChunks || nextFc <= fc || nextFc > nChunks + 1L ||
          spc <= 0 || spc > nSamples || sdi != 1L) ok = false
      else {
        var chunk = fc
        while (ok && chunk < nextFc) {
          // Chunk indexes are 1-based in stsc; the moment uses 0-based j.
          var k = 0L
          var chunkBytes = 0L
          while (k < spc && cursor < nSamples) {
            chunkBytes += u32(zs + 12 + 4 * cursor); cursor += 1; k += 1
          }
          if (k < spc) ok = false // ran out of samples mid-chunk
          else stscMoment += (chunk - 1) * chunkBytes
          chunk += 1
        }
        prevFc = fc
      }
      e += 1
    }
    if (!ok || cursor != nSamples) return None // mapping must cover exactly
    // Optional ctts.
    mp4FindBox(media, "ctts", bs, be) match {
      case None => Some((offSum, stscMoment, 0, 0L, 0L))
      case Some((ts, te)) =>
        if (te - ts < 8) return None
        val verFlags = u32(ts)
        val version = (verFlags >> 24).toInt
        if ((verFlags & 0xffffffL) != 0L || (version != 0 && version != 1))
          return None
        val nRuns = u32(ts + 4)
        if (nRuns <= 0 || te - ts != 8 + 8 * nRuns) return None
        var sum = 0L; var mom = 0L; var cur = 0L
        var r = 0
        while (r < nRuns.toInt) {
          val cnt = u32(ts + 8 + 8 * r)
          val rawOff = u32(ts + 12 + 8 * r)
          val off = if (version == 1) rawOff.toInt.toLong else rawOff
          if (cnt <= 0 || cur + cnt > nSamples) return None
          sum += cnt * off
          // Σ_{i=cur}^{cur+cnt-1} i = cnt·cur + cnt(cnt−1)/2
          mom += off * (cnt * cur + cnt * (cnt - 1) / 2)
          cur += cnt
          r += 1
        }
        if (cur != nSamples) return None // §8.6.1.3 cross-table rule
        Some((offSum, stscMoment, 1, sum, mom))
    }
  }

  /** MP4-sample-staged media table: every 3rd doc a COMPLETE sample-
    * table MP4 ([[sampleMp4]]), the rest bare text. */
  def mp4SampleTableStaged(s: SparkSession, dir: String): DataFrame =
    mp4SampleMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  def mp4SampleMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 0) sampleMp4(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  case class Mp4SampleStats(doc_id: Long, source: String, n_samples: Int,
                            total_bytes: Long, max_size: Int, dur_units: Long,
                            timescale: Int, n_chunks: Int, chunk_off_sum: Long,
                            size_moment: Long, stsc_moment: Long,
                            has_ctts: Int, ctts_sum: Long, ctts_moment: Long)

  /** MP4 sample-table decode pass: the decode is the filter. */
  def decodedMp4Samples(s: SparkSession, dir: String): DataFrame =
    decodedMp4SamplesOf(s, mp4SampleTableStaged(s, dir))

  def decodedMp4SamplesOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeMp4Samples(r.media).map(m =>
          Mp4SampleStats(r.doc_id, r.source, m.nSamples, m.totalBytes,
            m.maxSize, m.durUnits, m.timescale, m.nChunks, m.chunkOffSum,
            m.sizeMoment, m.stscMoment, m.hasCtts, m.cttsSum, m.cttsMoment))
      })
      .toDF()
  }

  /** Keyframe (sync-sample) statistics for one MP4 — the demux step a
    * frame-sampling pipeline keys on (decode only keyframes, seek to
    * the nearest sync point). syncBytes ties stss to stsz: a wrong
    * 1-based→0-based conversion pulls the wrong sample sizes. When the
    * box is ABSENT the §8.6.2 default applies: every sample is sync. */
  final case class DecodedMp4Sync(hasStss: Int, nSync: Int, syncSum: Long,
                                  syncBytes: Long)

  /** REAL sync-sample decode: walks to the stbl, reads the stsz sizes,
    * then the OPTIONAL stss — entries must be strictly increasing
    * 1-based sample numbers within [1, n]; absence means all samples
    * are sync samples (the spec's rule, not an error). */
  def decodeMp4Sync(media: Array[Byte]): Option[DecodedMp4Sync] = {
    def u32(off: Int): Long =
      ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
        ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
    if (media.length < 16 || u32(0) < 16 || u32(0) > media.length ||
        new String(media, 4, 4, java.nio.charset.StandardCharsets.US_ASCII) != "ftyp")
      return None
    for {
      (ms, me) <- mp4FindBox(media, "moov", u32(0).toInt, media.length)
      (ts, te) <- mp4FindBox(media, "trak", ms, me)
      (ds, de) <- mp4FindBox(media, "mdia", ts, te)
      (ns, ne) <- mp4FindBox(media, "minf", ds, de)
      (bs, be) <- mp4FindBox(media, "stbl", ns, ne)
      (zs, ze) <- mp4FindBox(media, "stsz", bs, be)
      if ze - zs >= 12 && u32(zs) == 0L && u32(zs + 4) == 0L
      nSamples = u32(zs + 8)
      if nSamples > 0 && nSamples <= 65536 && ze - zs == 12 + 4 * nSamples
      stats <- mp4FindBox(media, "stss", bs, be) match {
        case None =>
          // §8.6.2: no stss box → every sample is a sync sample.
          var total = 0L; var i = 0
          while (i < nSamples.toInt) { total += u32(zs + 12 + 4 * i); i += 1 }
          Some(DecodedMp4Sync(0, nSamples.toInt,
            nSamples * (nSamples + 1) / 2, total))
        case Some((ss, se)) =>
          if (se - ss < 8 || u32(ss) != 0L) None
          else {
            val m = u32(ss + 4)
            if (m <= 0 || m > nSamples || se - ss != 8 + 4 * m) None
            else {
              var syncSum = 0L; var syncBytes = 0L; var prev = 0L
              var j = 0; var ok = true
              while (ok && j < m.toInt) {
                val snum = u32(ss + 8 + 4 * j)
                if (snum <= prev || snum > nSamples) ok = false
                else {
                  syncSum += snum
                  syncBytes += u32(zs + 12 + 4 * (snum.toInt - 1))
                  prev = snum
                }
                j += 1
              }
              if (ok) Some(DecodedMp4Sync(1, m.toInt, syncSum, syncBytes))
              else None
            }
          }
      }
    } yield stats
  }

  case class Mp4SyncStats(doc_id: Long, source: String, has_stss: Int,
                          n_sync: Int, sync_sum: Long, sync_bytes: Long)

  /** Keyframe-extraction pass over the MP4-staged corpus. */
  def decodedMp4Sync(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mp4SampleTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeMp4Sync(r.media).map(m =>
          Mp4SyncStats(r.doc_id, r.source, m.hasStss, m.nSync, m.syncSum,
            m.syncBytes))
      })
      .toDF()
  }

  // ------------------------------ Fragmented MP4 (moof/traf/trun) demux
  //
  // DASH/CMAF-era files carry NO monolithic stbl: the moov's sample
  // tables are empty and every fragment ships its own timing/size data
  // in a moof (ISO 14496-12 §8.8). The load-bearing semantics are the
  // THREE-LEVEL DEFAULT PRECEDENCE — a per-sample trun field beats a
  // tfhd fragment default beats the mvex/trex movie default — plus the
  // tfdt rule that baseMediaDecodeTime equals the sum of all earlier
  // fragments' durations. Staged files exercise every precedence cell
  // and both tfdt versions; the decoder enforces tfdt continuity, the
  // default-base-is-moof data_offset arithmetic, and an EXACT mdat fit
  // (the fragment's samples must fill its mdat payload precisely), so a
  // wrong precedence chain breaks structurally, not just numerically.
  //
  // All mod-3 staging variety keys on m = id/3: staged ids are the
  // %3==0 residue class, where any `id % 3` term is identically zero
  // (the stco/JPEG-height aliasing class caught in round 13).

  def fmp4FragCount(id: Long): Int = (2 + (id / 3) % 3).toInt // 2..4
  def fmp4MediaTimescale(id: Long): Int = (24000 + id % 1000).toInt
  def fmp4TrexDur(id: Long): Int = (500 + id % 100).toInt
  def fmp4TrexSize(id: Long): Int = (300 + id % 200).toInt
  def fmp4SampleCount(id: Long, f: Int): Int = (3 + (id / 3 + f) % 4).toInt // 3..6
  /** trun carries per-sample durations iff (m+f) even; per-sample sizes
    * iff (m+2f) ≡ 0 (mod 3) — periods 2 and 3, so over ≥2 fragments the
    * four present/absent cells all occur across the corpus. */
  def fmp4TrunDurPresent(id: Long, f: Int): Boolean = (id / 3 + f) % 2 == 0
  def fmp4TrunSizePresent(id: Long, f: Int): Boolean = (id / 3 + 2 * f) % 3 == 0
  /** tfhd fragment defaults: duration override iff (m+f) ≡ 0 (mod 3),
    * size override iff (m+f) ≡ 1 — mutually exclusive with each other
    * but free to coincide with the trun flags, so the trun>tfhd>trex
    * chain is exercised at every level. */
  def fmp4TfhdDurPresent(id: Long, f: Int): Boolean = (id / 3 + f) % 3 == 0
  def fmp4TfhdSizePresent(id: Long, f: Int): Boolean = (id / 3 + f) % 3 == 1
  def fmp4TfhdDur(id: Long, f: Int): Int = (600 + (id + f * 7) % 100).toInt
  def fmp4TfhdSize(id: Long, f: Int): Int = (400 + (id + f * 11) % 150).toInt
  def fmp4SampleDur(id: Long, f: Int, i: Int): Int =
    (256 + (id + f * 5 + i * 3) % 128).toInt
  def fmp4SampleSize(id: Long, f: Int, i: Int): Int =
    (100 + (id * 7 + f * 13 + i * 29) % 500).toInt
  def fmp4TfdtVersion(id: Long): Int = ((id / 3) % 2).toInt

  /** Effective sample size under §8.8.8 precedence: trun > tfhd > trex. */
  def fmp4EffSize(id: Long, f: Int, i: Int): Int =
    if (fmp4TrunSizePresent(id, f)) fmp4SampleSize(id, f, i)
    else if (fmp4TfhdSizePresent(id, f)) fmp4TfhdSize(id, f)
    else fmp4TrexSize(id)
  def fmp4EffDur(id: Long, f: Int, i: Int): Int =
    if (fmp4TrunDurPresent(id, f)) fmp4SampleDur(id, f, i)
    else if (fmp4TfhdDurPresent(id, f)) fmp4TfhdDur(id, f)
    else fmp4TrexDur(id)

  private def fmp4FullBox(tag: String, version: Int, flags: Int,
                          payload: Array[Byte]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(4 + payload.length)
    b.putInt((version << 24) | (flags & 0xffffff)).put(payload)
    mp4Box(tag, b.array())
  }

  /** A COMPLETE fragmented MP4 for doc `id`: ftyp(iso5) → moov(mvhd,
    * trak(tkhd, mdia(mdhd, hdlr, minf(stbl with EMPTY stts/stsc/stsz/
    * stco — the fMP4 shape), )), mvex(trex)) → F × (moof(mfhd(seq),
    * traf(tfhd, tfdt, trun)) mdat). data_offset is the real
    * default-base-is-moof value (moof size + 8) and each mdat payload
    * is exactly the fragment's sample bytes. */
  def fragMp4(id: Long): Array[Byte] = {
    val be = java.nio.ByteOrder.BIG_ENDIAN
    def buf(n: Int) = java.nio.ByteBuffer.allocate(n).order(be)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val nF = fmp4FragCount(id)
    val tfdtV = fmp4TfdtVersion(id)

    val stsd = mp4Box("stsd", buf(8).putInt(0).putInt(0).array())
    val stts0 = mp4Box("stts", buf(8).putInt(0).putInt(0).array())
    val stsc0 = mp4Box("stsc", buf(8).putInt(0).putInt(0).array())
    val stsz0 = mp4Box("stsz", buf(12).putInt(0).putInt(0).putInt(0).array())
    val stco0 = mp4Box("stco", buf(8).putInt(0).putInt(0).array())
    val stbl = mp4Box("stbl", stsd ++ stts0 ++ stsc0 ++ stsz0 ++ stco0)
    val minf = mp4Box("minf", stbl)
    val mdhd = {
      val b = buf(24)
      b.putInt(0).putInt(0).putInt(0)
        .putInt(fmp4MediaTimescale(id)).putInt(0) // duration 0: fragmented
        .putShort(0x55c4.toShort).putShort(0)
      mp4Box("mdhd", b.array())
    }
    val hdlr = {
      val b = buf(25)
      b.putInt(0).putInt(0).put("vide".getBytes(ascii))
        .putInt(0).putInt(0).putInt(0).put(0.toByte)
      mp4Box("hdlr", b.array())
    }
    val tkhd = mp4Box("tkhd", new Array[Byte](84))
    val mdia = mp4Box("mdia", mdhd ++ hdlr ++ minf)
    val trak = mp4Box("trak", tkhd ++ mdia)
    val trex = {
      val b = buf(20)
      b.putInt(1) // track_ID
        .putInt(1) // default_sample_description_index
        .putInt(fmp4TrexDur(id)).putInt(fmp4TrexSize(id))
        .putInt(0) // default_sample_flags
      fmp4FullBox("trex", 0, 0, b.array())
    }
    val mvex = mp4Box("mvex", trex)
    val mvhd = {
      val b = buf(100)
      b.putInt(0).putInt(0).putInt(0)
        .putInt(600).putInt(0) // movie duration 0: fragmented
        .putInt(0x00010000).putShort(0x0100.toShort).putShort(0)
        .putInt(0).putInt(0)
        .putInt(0x00010000).putInt(0).putInt(0)
        .putInt(0).putInt(0x00010000).putInt(0)
        .putInt(0).putInt(0).putInt(0x40000000)
        .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
        .putInt(2)
      mp4Box("mvhd", b.array())
    }
    val moov = mp4Box("moov", mvhd ++ trak ++ mvex)
    val ftyp = {
      val b = buf(12)
      b.put("iso5".getBytes(ascii)).putInt(0).put("dash".getBytes(ascii))
      mp4Box("ftyp", b.array())
    }

    var decodeTime = 0L
    val frags = (0 until nF).flatMap { f =>
      val sc = fmp4SampleCount(id, f)
      val durP = fmp4TrunDurPresent(id, f)
      val sizeP = fmp4TrunSizePresent(id, f)
      val tDurP = fmp4TfhdDurPresent(id, f)
      val tSizeP = fmp4TfhdSizePresent(id, f)
      val mfhd = fmp4FullBox("mfhd", 0, 0, buf(4).putInt(f + 1).array())
      val tfhd = {
        val flags = 0x020000 | (if (tDurP) 0x8 else 0) | (if (tSizeP) 0x10 else 0)
        val b = buf(4 + (if (tDurP) 4 else 0) + (if (tSizeP) 4 else 0))
        b.putInt(1) // track_ID
        if (tDurP) b.putInt(fmp4TfhdDur(id, f))
        if (tSizeP) b.putInt(fmp4TfhdSize(id, f))
        fmp4FullBox("tfhd", 0, flags, b.array())
      }
      val tfdt = {
        val b = buf(if (tfdtV == 0) 4 else 8)
        if (tfdtV == 0) b.putInt(decodeTime.toInt) else b.putLong(decodeTime)
        fmp4FullBox("tfdt", tfdtV, 0, b.array())
      }
      // trun size is known before data_offset is: 8 hdr + 4 verflags +
      // 4 count + 4 data_offset + 4·sc·(durP + sizeP) sample fields.
      val trunSize = 20 + 4 * sc * ((if (durP) 1 else 0) + (if (sizeP) 1 else 0))
      val trafSize = 8 + tfhd.length + tfdt.length + trunSize
      val moofSize = 8 + mfhd.length + trafSize
      val trun = {
        val flags = 0x1 | (if (durP) 0x100 else 0) | (if (sizeP) 0x200 else 0)
        val b = buf(trunSize - 12)
        b.putInt(sc).putInt(moofSize + 8) // data_offset: first mdat payload byte
        (0 until sc).foreach { i =>
          if (durP) b.putInt(fmp4SampleDur(id, f, i))
          if (sizeP) b.putInt(fmp4SampleSize(id, f, i))
        }
        fmp4FullBox("trun", 0, flags, b.array())
      }
      val traf = mp4Box("traf", tfhd ++ tfdt ++ trun)
      val moof = mp4Box("moof", mfhd ++ traf)
      require(moof.length == moofSize, s"moof size model drift: ${moof.length} vs $moofSize")
      val fragBytes = (0 until sc).map(i => fmp4EffSize(id, f, i).toLong).sum
      val mdat = mp4Box("mdat", new Array[Byte](fragBytes.toInt))
      decodeTime += (0 until sc).map(i => fmp4EffDur(id, f, i).toLong).sum
      moof ++ mdat
    }
    ftyp ++ moov ++ frags.toArray
  }

  /** Per-doc fragmented-demux statistics. sizeMoment weights each
    * sample's EFFECTIVE size by its global (cross-fragment) index, so a
    * wrong precedence chain or fragment order shifts it; tfdtSum is the
    * sum of baseMediaDecodeTimes the decoder has ALSO verified equal
    * the running duration; dataOffSum prices the per-fragment moof size
    * arithmetic. */
  final case class DecodedMp4Frags(nFrags: Int, seqSum: Long, nSamples: Int,
                                   totalBytes: Long, durTotal: Long,
                                   sizeMoment: Long, tfdtSum: Long,
                                   dataOffSum: Long, timescale: Int)

  /** REAL fragmented-MP4 demux: moov(mdhd timescale, EMPTY stbl
    * enforced, mvex/trex defaults) then the (moof mdat)+ sequence.
    * Strict profile: mfhd sequence strictly increasing; tfhd must set
    * default-base-is-moof and nothing beyond the duration/size
    * defaults; tfdt must equal the cumulative decode duration; trun
    * data_offset must land on the first payload byte of the adjacent
    * mdat; each mdat payload must hold EXACTLY the fragment's sample
    * bytes; trailing garbage after the last fragment refuses. */
  def decodeMp4Fragments(media: Array[Byte]): Option[DecodedMp4Frags] = {
    def u32(off: Int): Long =
      ((media(off) & 0xffL) << 24) | ((media(off + 1) & 0xffL) << 16) |
        ((media(off + 2) & 0xffL) << 8) | (media(off + 3) & 0xffL)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    if (media.length < 16 || u32(0) < 16 || u32(0) > media.length ||
        new String(media, 4, 4, ascii) != "ftyp") return None
    val moovHdr = for {
      (ms, me) <- mp4FindBox(media, "moov", u32(0).toInt, media.length)
      (ts, te) <- mp4FindBox(media, "trak", ms, me)
      (ds, de) <- mp4FindBox(media, "mdia", ts, te)
      (hs, he) <- mp4FindBox(media, "mdhd", ds, de)
      if he - hs == 24 && u32(hs) == 0L
      timescale = u32(hs + 12)
      if timescale > 0 && timescale <= Int.MaxValue
      (ns, ne) <- mp4FindBox(media, "minf", ds, de)
      (bs, be) <- mp4FindBox(media, "stbl", ns, ne)
      (zs, ze) <- mp4FindBox(media, "stsz", bs, be)
      // The fMP4 shape: the moov sample tables must be EMPTY.
      if ze - zs == 12 && u32(zs) == 0L && u32(zs + 4) == 0L && u32(zs + 8) == 0L
      (vs, ve) <- mp4FindBox(media, "mvex", ms, me)
      (xs, xe) <- mp4FindBox(media, "trex", vs, ve)
      if xe - xs == 24 && u32(xs) == 0L
      trackId = u32(xs + 4)
      if trackId == 1L && u32(xs + 8) == 1L // default_sample_description_index
      moovEnd = me
    } yield (timescale.toInt, u32(xs + 12), u32(xs + 16), moovEnd)
    moovHdr.flatMap { case (timescale, trexDur, trexSize, moovEnd) =>
      var off = moovEnd
      var nFrags = 0; var seqSum = 0L; var prevSeq = 0L
      var nSamples = 0L; var totalBytes = 0L; var durTotal = 0L
      var sizeMoment = 0L; var tfdtSum = 0L; var dataOffSum = 0L
      var ok = true
      while (ok && off < media.length) {
        val step = for {
          (fs, fe) <- mp4FindBox(media, "moof", off, media.length)
          if fs == off + 8 // moof must start the remaining stream
          (hs, he) <- mp4FindBox(media, "mfhd", fs, fe)
          if he - hs == 8 && u32(hs) == 0L
          seq = u32(hs + 4)
          if seq > prevSeq
          (as, ae) <- mp4FindBox(media, "traf", fs, fe)
          (ths, the) <- mp4FindBox(media, "tfhd", as, ae)
          verFlags = u32(ths)
          if (verFlags >> 24) == 0L
          flags = (verFlags & 0xffffff).toInt
          // Strict: default-base-is-moof, only dur/size defaults beyond.
          if (flags & 0x020000) != 0 && (flags & ~0x020018) == 0
          if u32(ths + 4) == 1L // track_ID must match the trex track
          tDurP = (flags & 0x8) != 0
          tSizeP = (flags & 0x10) != 0
          if the - ths == 8 + (if (tDurP) 4 else 0) + (if (tSizeP) 4 else 0)
          tfhdDur = if (tDurP) u32(ths + 8) else -1L
          tfhdSize = if (tSizeP) u32(ths + (if (tDurP) 12 else 8)) else -1L
          (tds, tde) <- mp4FindBox(media, "tfdt", as, ae)
          tfdtVer = (u32(tds) >> 24).toInt
          if (u32(tds) & 0xffffffL) == 0L && (tfdtVer == 0 || tfdtVer == 1)
          if tde - tds == (if (tfdtVer == 0) 8 else 12)
          baseTime = if (tfdtVer == 0) u32(tds + 4)
                     else (u32(tds + 4) << 32) | u32(tds + 8)
          // §8.8.12: baseMediaDecodeTime is the sum of the decode
          // durations of all earlier fragments' samples.
          if baseTime == durTotal
          (rs, re) <- mp4FindBox(media, "trun", as, ae)
          trunVf = u32(rs)
          if (trunVf >> 24) == 0L
          trunFlags = (trunVf & 0xffffff).toInt
          if (trunFlags & 0x1) != 0 && (trunFlags & ~0x301) == 0
          durP = (trunFlags & 0x100) != 0
          sizeP = (trunFlags & 0x200) != 0
          sc = u32(rs + 4)
          if sc > 0 && sc <= 65536
          if re - rs == 12 + 4 * sc * ((if (durP) 1 else 0) + (if (sizeP) 1 else 0))
          dataOff = u32(rs + 8).toInt.toLong // signed 32
          if dataOff == (fe - off) + 8 // moof size + mdat header: first payload byte
          (mds, mde) <- mp4FindBox(media, "mdat", fe, media.length)
          if mds == fe + 8 // mdat must be adjacent to its moof
        } yield {
          var fragBytes = 0L; var fragDur = 0L; var localMoment = 0L
          var p = rs + 12
          var i = 0
          var sane = true
          while (sane && i < sc.toInt) {
            var dur = -1L; var size = -1L
            if (durP) { dur = u32(p); p += 4 }
            if (sizeP) { size = u32(p); p += 4 }
            val effDur = if (dur >= 0) dur else if (tfhdDur >= 0) tfhdDur else trexDur
            val effSize = if (size >= 0) size else if (tfhdSize >= 0) tfhdSize else trexSize
            if (effDur <= 0 || effSize <= 0 || effSize > Int.MaxValue) sane = false
            else {
              fragBytes += effSize; fragDur += effDur
              localMoment += (nSamples + i) * effSize
              i += 1
            }
          }
          // Exact mdat fit: the fragment's samples fill the payload.
          if (!sane || (mde - mds).toLong != fragBytes) None
          else {
            nFrags += 1; seqSum += seq; prevSeq = seq
            totalBytes += fragBytes; durTotal += fragDur
            sizeMoment += localMoment; tfdtSum += baseTime
            dataOffSum += dataOff
            nSamples += sc
            Some(mde) // continue after the mdat
          }
        }
        step.flatten match {
          case Some(next) => off = next
          case None       => ok = false
        }
      }
      if (ok && nFrags > 0 && off == media.length)
        Some(DecodedMp4Frags(nFrags, seqSum, nSamples.toInt, totalBytes,
          durTotal, sizeMoment, tfdtSum, dataOffSum, timescale))
      else None
    }
  }

  /** fMP4-staged media table: every 3rd doc a COMPLETE fragmented MP4
    * ([[fragMp4]]), the rest bare text. */
  def mp4FragmentStaged(s: SparkSession, dir: String): DataFrame =
    mp4FragmentMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  def mp4FragmentMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 0) fragMp4(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  case class Mp4FragStats(doc_id: Long, source: String, n_frags: Int,
                          seq_sum: Long, n_samples: Int, total_bytes: Long,
                          dur_total: Long, size_moment: Long, tfdt_sum: Long,
                          data_off_sum: Long, timescale: Int)

  /** Fragmented-MP4 demux pass: the decode is the filter. */
  def decodedMp4Fragments(s: SparkSession, dir: String): DataFrame =
    decodedMp4FragmentsOf(s, mp4FragmentStaged(s, dir))

  def decodedMp4FragmentsOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeMp4Fragments(r.media).map(m =>
          Mp4FragStats(r.doc_id, r.source, m.nFrags, m.seqSum, m.nSamples,
            m.totalBytes, m.durTotal, m.sizeMoment, m.tfdtSum,
            m.dataOffSum, m.timescale))
      })
      .toDF()
  }

  // ------------------------------------------- MP3 (ID3v2 + frame walk)
  //
  // The seventh container: crawl audio is overwhelmingly MP3. The
  // honest gate stops at the frame walk (Huffman audio decode is not
  // bit-deterministic across decoders): an ID3v2.3 tag whose size is
  // SYNCSAFE (7 bits per byte — the parse every naive reader gets
  // wrong once the tag passes 127 bytes; staged tags always do), a
  // TIT2 title frame inside it, then a VBR sequence of MPEG-1 Layer
  // III frame headers whose lengths derive from the public bitrate
  // table: len = 144000·kbps DIV samplerate + padding. The walk must
  // land EXACTLY on end-of-stream — one mis-sized frame desyncs.

  val Mp3Bitrates: Array[Int] = // MPEG-1 Layer III kbps, index 1..14
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  val Mp3Rates: Array[Int] = Array(44100, 48000, 32000) // sr index 0..2

  def mp3Frames(id: Long): Int = (4 + id % 6).toInt // 4..9
  /** Sample rate keys on id/3: staged ids are the %3==1 residue class,
    * where id%3 is constant (the aliasing class again). */
  def mp3RateIdx(id: Long): Int = ((id / 3) % 3).toInt
  def mp3Rate(id: Long): Int = Mp3Rates(mp3RateIdx(id))
  def mp3BrIdx(id: Long, j: Int): Int = (1 + (id + j * 5) % 14).toInt // 1..14: VBR
  def mp3Pad(id: Long, j: Int): Int = ((id + j) % 2).toInt
  def mp3FrameLen(id: Long, j: Int): Int =
    144000 * Mp3Bitrates(mp3BrIdx(id, j)) / mp3Rate(id) + mp3Pad(id, j)
  /** Tag payload 130..329 bytes — always beyond the 7-bit boundary, so
    * the syncsafe encoding is live on every staged file. */
  def mp3TagLen(id: Long): Int = (130 + id % 200).toInt
  def mp3Title(id: Long): String = s"t$id"
  /** ID3v2 major version: v2.3 and v2.4 alternate on id/3 — the live
    * difference is the FRAME size field (u32 in v2.3, SYNCSAFE in
    * v2.4: the parse naive readers get wrong the moment a frame passes
    * 127 bytes — and more subtly, misread sizes silently land on
    * padding for SMALL frames, which is why the version byte must
    * drive the parse, not a heuristic). */
  def mp3TagVer(id: Long): Int = (3 + (id / 3) % 2).toInt
  /** Xing/Info VBR header frame present on half the staged files,
    * keyed independently of the tag version (all four combinations
    * appear across any 12 consecutive staged ids). */
  def mp3HasXing(id: Long): Boolean = ((id / 3) / 2) % 2 == 0
  /** The Xing frame's own MPEG header uses fixed bitrate index 5
    * (64 kbps), no padding — big enough for the 141-byte payload at
    * every staged sample rate. */
  def mp3XingLen(id: Long): Int = 144000 * Mp3Bitrates(5) / mp3Rate(id)
  def mp3XingQuality(id: Long): Int = (id % 101).toInt
  /** The Xing TOC model (LAME conventions): entry i points at frame
    * (i·F) DIV 100 of the F = 1 + nAudioFrames total frames (the Xing
    * frame itself is frame 0 at offset 0), scaled to 0..255 over the
    * total stream bytes including the Xing frame. */
  def mp3Toc(id: Long): Array[Int] = {
    val n = mp3Frames(id)
    val lens = mp3XingLen(id) +: Array.tabulate(n)(j => mp3FrameLen(id, j))
    val offs = lens.scanLeft(0L)(_ + _) // offs(k) = start of frame k
    val total = offs(n + 1)
    Array.tabulate(100)(i => ((offs((i * (n + 1)) / 100) * 256) / total).toInt)
  }

  /** A COMPLETE MP3 for doc `id`: ID3v2.3 or v2.4 tag (syncsafe TAG
    * size always; frame sizes u32 in v2.3, syncsafe in v2.4; one TIT2
    * text frame, zero padding), an optional Xing VBR header frame
    * (flags 0xF: frame count, byte count, 100-byte seek TOC, quality),
    * then [[mp3Frames]] VBR MPEG-1 Layer III frames with real header
    * arithmetic. */
  def sampleMp3(id: Long): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val tagLen = mp3TagLen(id)
    val title = mp3Title(id).getBytes(ascii)
    val ver = mp3TagVer(id)
    val out = new java.io.ByteArrayOutputStream()
    out.write("ID3".getBytes(ascii), 0, 3)
    out.write(ver); out.write(0) // v2.<ver>.0
    out.write(0)                 // flags
    out.write((tagLen >> 21) & 0x7f); out.write((tagLen >> 14) & 0x7f)
    out.write((tagLen >> 7) & 0x7f); out.write(tagLen & 0x7f)
    // TIT2 frame: 4-byte id, u32 size in v2.3 / SYNCSAFE size in v2.4,
    // 2 flag bytes, then encoding byte 0 (latin-1) + text.
    out.write("TIT2".getBytes(ascii), 0, 4)
    val fsz = 1 + title.length
    if (ver == 4) {
      out.write((fsz >> 21) & 0x7f); out.write((fsz >> 14) & 0x7f)
      out.write((fsz >> 7) & 0x7f); out.write(fsz & 0x7f)
    } else {
      out.write((fsz >> 24) & 0xff); out.write((fsz >> 16) & 0xff)
      out.write((fsz >> 8) & 0xff); out.write(fsz & 0xff)
    }
    out.write(0); out.write(0)
    out.write(0) // ISO-8859-1 encoding
    out.write(title, 0, title.length)
    // Zero padding to the declared tag length.
    val used = 10 + fsz
    require(used <= tagLen, s"tag model drift at id=$id")
    out.write(new Array[Byte](tagLen - used), 0, tagLen - used)
    val srIdx = mp3RateIdx(id)
    // Optional Xing VBR header frame: a REAL MPEG frame whose payload
    // carries "Xing" at the MPEG-1-mono side-info offset (4 + 17), the
    // 0xF flags word, frame/byte counts over the WHOLE stream (Xing
    // frame included — the LAME convention), the 100-entry TOC and the
    // quality word; the remainder zero-fills to the frame length.
    if (mp3HasXing(id)) {
      val xlen = mp3XingLen(id)
      val frame = new Array[Byte](xlen)
      frame(0) = 0xff.toByte; frame(1) = 0xfb.toByte
      frame(2) = ((5 << 4) | (srIdx << 2)).toByte // bitrate idx 5, pad 0
      frame(3) = 0xc0.toByte
      var q = 21
      def be32(v: Long): Unit = {
        frame(q) = ((v >> 24) & 0xff).toByte; frame(q + 1) = ((v >> 16) & 0xff).toByte
        frame(q + 2) = ((v >> 8) & 0xff).toByte; frame(q + 3) = (v & 0xff).toByte
        q += 4
      }
      "Xing".getBytes(ascii).copyToArray(frame, q); q += 4
      be32(0xfL) // flags: frames | bytes | TOC | quality
      val n = mp3Frames(id)
      be32(n + 1L)
      be32(xlen.toLong + (0 until n).map(mp3FrameLen(id, _).toLong).sum)
      mp3Toc(id).foreach { t => frame(q) = (t & 0xff).toByte; q += 1 }
      be32(mp3XingQuality(id).toLong)
      out.write(frame, 0, xlen)
    }
    // Audio frames.
    var j = 0
    while (j < mp3Frames(id)) {
      val len = mp3FrameLen(id, j)
      out.write(0xff); out.write(0xfb) // sync + MPEG1 + Layer III + no CRC
      out.write((mp3BrIdx(id, j) << 4) | (srIdx << 2) | (mp3Pad(id, j) << 1))
      out.write(0xc0) // single-channel mode, no extensions
      var k = 4
      while (k < len) { out.write(((id + j * 7 + k) % 251).toInt); k += 1 }
      j += 1
    }
    out.toByteArray
  }

  /** Per-file frame-walk statistics. kbpsSum prices the bitrate-table
    * lookup per frame (VBR: one wrong row shifts it); durationMs is the
    * floor-arithmetic decode duration (1152 samples per MPEG-1 Layer
    * III frame); audio stats EXCLUDE the Xing header frame. tocSum and
    * quality are 0 when no VBR header is present. */
  final case class DecodedMp3(nFrames: Int, dataBytes: Long, kbpsSum: Long,
                              nPadded: Int, sampleRate: Int, durationMs: Long,
                              id3Bytes: Int, title: String, tagVer: Int,
                              hasVbr: Int, tocSum: Long, vbrQuality: Int)

  /** REAL MP3 parse: ID3v2.3/v2.4 header with SYNCSAFE tag size (any
    * size byte with bit 7 set refuses), the TIT2 walk inside the tag
    * (v2.3 u32 frame sizes, v2.4 SYNCSAFE — the version byte drives the
    * parse; padding stops the walk; frames bounds-checked), an optional
    * Xing/Info VBR header frame whose frame count, byte count and every
    * one of the 100 TOC entries are VERIFIED against the actual frame
    * walk (a stale or shifted seek table refuses — a seek into the
    * middle of a frame corrupts every downstream consumer), then the
    * frame walk — every header must carry the 11-bit sync, MPEG-1,
    * Layer III, a valid bitrate index and the SAME sample-rate index,
    * and the computed lengths must land exactly on end-of-stream. */
  def decodeMp3(media: Array[Byte]): Option[DecodedMp3] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    if (media.length < 14 || new String(media, 0, 3, ascii) != "ID3" ||
        (media(3) != 3 && media(3) != 4) || media(4) != 0 || media(5) != 0)
      return None
    val tagVer = media(3).toInt
    if ((media(6) | media(7) | media(8) | media(9)) < 0 ||
        ((media(6) | media(7) | media(8) | media(9)) & 0x80) != 0)
      return None // syncsafe bytes carry 7 bits each
    val tagLen = ((media(6) & 0x7f) << 21) | ((media(7) & 0x7f) << 14) |
      ((media(8) & 0x7f) << 7) | (media(9) & 0x7f)
    if (10 + tagLen > media.length) return None
    // Walk ID3 frames to the padding; collect the TIT2 title.
    var title: String = null
    var p = 10
    val tagEnd = 10 + tagLen
    var ok = true
    while (ok && p + 10 <= tagEnd && media(p) != 0) {
      val fid = new String(media, p, 4, ascii)
      val fsz =
        if (tagVer == 4) {
          // v2.4 frame sizes are SYNCSAFE; a set high bit is corrupt.
          if (((media(p + 4) | media(p + 5) | media(p + 6) | media(p + 7)) & 0x80) != 0)
            -1
          else ((media(p + 4) & 0x7f) << 21) | ((media(p + 5) & 0x7f) << 14) |
            ((media(p + 6) & 0x7f) << 7) | (media(p + 7) & 0x7f)
        } else
          ((media(p + 4) & 0xff) << 24) | ((media(p + 5) & 0xff) << 16) |
            ((media(p + 6) & 0xff) << 8) | (media(p + 7) & 0xff)
      if (fsz <= 0 || p + 10 + fsz > tagEnd) ok = false
      else {
        if (fid == "TIT2" && fsz >= 1 && media(p + 10) == 0)
          title = new String(media, p + 11, fsz - 1, ascii)
        p += 10 + fsz
      }
    }
    if (!ok || title == null) return None
    // Parse one MPEG frame header at `at`; returns (brIdx, srIdx, pad,
    // len) or null.
    def frameHeader(at: Int): Array[Int] = {
      if (at + 4 > media.length || (media(at) & 0xff) != 0xff ||
          (media(at + 1) & 0xff) != 0xfb) return null
      val b2 = media(at + 2) & 0xff
      val bi = b2 >> 4; val si = (b2 >> 2) & 0x3; val pad = (b2 >> 1) & 0x1
      if (bi < 1 || bi > 14 || si > 2) return null
      Array(bi, si, pad, 144000 * Mp3Bitrates(bi) / Mp3Rates(si) + pad)
    }
    // Optional Xing/Info VBR header frame: magic at the MPEG-1-mono
    // side-info offset of the FIRST frame after the tag.
    var off = tagEnd
    var hasVbr = 0
    var vbrFrames = -1L; var vbrBytes = -1L
    var vbrToc: Array[Int] = null
    var vbrQuality = 0
    var tocSum = 0L
    var srIdx = -1
    val xh = frameHeader(tagEnd)
    if (xh != null && tagEnd + xh(3) <= media.length && xh(3) >= 21 + 8) {
      val magic = new String(media, tagEnd + 21, 4, ascii)
      if (magic == "Xing" || magic == "Info") {
        def u32(a: Int): Long =
          ((media(a) & 0xffL) << 24) | ((media(a + 1) & 0xffL) << 16) |
            ((media(a + 2) & 0xffL) << 8) | (media(a + 3) & 0xffL)
        hasVbr = 1
        srIdx = xh(1)
        var q = tagEnd + 25
        val flags = u32(q); q += 4
        if ((flags & ~0xfL) != 0) return None
        def room(n: Int): Boolean = q + n <= tagEnd + xh(3)
        if ((flags & 0x1) != 0) { if (!room(4)) return None; vbrFrames = u32(q); q += 4 }
        if ((flags & 0x2) != 0) { if (!room(4)) return None; vbrBytes = u32(q); q += 4 }
        if ((flags & 0x4) != 0) {
          if (!room(100)) return None
          vbrToc = Array.tabulate(100)(i => media(q + i) & 0xff); q += 100
          tocSum = vbrToc.map(_.toLong).sum
        }
        if ((flags & 0x8) != 0) { if (!room(4)) return None; vbrQuality = u32(q).toInt }
        off = tagEnd + xh(3)
      }
    }
    // Audio frame walk (offsets recorded for the TOC verification).
    val lens = Array.newBuilder[Int]
    var n = 0; var bytes = 0L; var kbps = 0L; var padded = 0
    while (ok && off < media.length) {
      val h = frameHeader(off)
      if (h == null || (srIdx >= 0 && h(1) != srIdx) ||
          off + h(3) > media.length) ok = false
      else {
        srIdx = h(1)
        n += 1; bytes += h(3); kbps += Mp3Bitrates(h(0)); padded += h(2)
        lens += h(3)
        off += h(3)
      }
    }
    if (!ok || n == 0 || off != media.length) return None
    // VBR header cross-checks: counts and the WHOLE seek table must
    // agree with the walked frames (LAME conventions: the Xing frame is
    // frame 0 at offset 0 and counts toward both totals).
    if (hasVbr == 1) {
      val all = xh(3) +: lens.result()
      val total = all.map(_.toLong).sum
      if (vbrFrames >= 0 && vbrFrames != all.length.toLong) return None
      if (vbrBytes >= 0 && vbrBytes != total) return None
      if (vbrToc != null) {
        val offs = all.scanLeft(0L)(_ + _)
        var i = 0
        while (i < 100) {
          if (vbrToc(i) != ((offs((i * all.length) / 100) * 256) / total).toInt)
            return None
          i += 1
        }
      }
    }
    val sr = Mp3Rates(srIdx)
    Some(DecodedMp3(n, bytes, kbps, padded, sr,
      n.toLong * 1152 * 1000 / sr, tagLen, title, tagVer,
      hasVbr, tocSum, if (hasVbr == 1) vbrQuality else 0))
  }

  /** MP3-staged media table: every doc with id % 3 == 1 a COMPLETE MP3
    * ([[sampleMp3]]), the rest bare text. */
  def mp3TableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir).select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 1) sampleMp3(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  case class Mp3Stats(doc_id: Long, source: String, n_frames: Int,
                      data_bytes: Long, kbps_sum: Long, n_padded: Int,
                      sample_rate: Int, duration_ms: Long, id3_bytes: Int,
                      title: String, tag_ver: Int, has_vbr: Int,
                      toc_sum: Long, vbr_quality: Int)

  /** MP3 frame-walk pass: the decode is the filter. */
  def decodedMp3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mp3TableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeMp3(r.media).map(m =>
          Mp3Stats(r.doc_id, r.source, m.nFrames, m.dataBytes, m.kbpsSum,
            m.nPadded, m.sampleRate, m.durationMs, m.id3Bytes, m.title,
            m.tagVer, m.hasVbr, m.tocSum, m.vbrQuality))
      })
      .toDF()
  }

  // --------------------------------- JPEG entropy (coefficient) decode
  //
  // The honest JPEG gate (NOTES.md "Why JPEG pixel decode stays out"):
  // PIXEL reconstruction is IDCT-rounding-dependent and therefore not
  // oracle-worthy, but the entropy layer — Huffman decode of the scan,
  // DC prediction, run-length/EOB/ZRL expansion, zigzag placement and
  // DEQUANTIZATION — is bit-exact by specification (ITU T.81). So the
  // staging synthesizes baseline JPEGs directly FROM a closed-form
  // quantized-coefficient model (no float DCT anywhere), Huffman-codes
  // them with the spec's Annex K.3 luminance tables, and the decoder
  // recovers the dequantized coefficients from real bytes while the
  // DuckDB oracle recomputes the model — the PNG/GIF gate design,
  // applied one layer below pixels.

  /** Staged JPEG dims — whole 8×8 blocks only (1..4 × 1..3 blocks).
    * Height keys on id/3: staged ids are the %3==0 residue class, so
    * ANY multiplicative term collapses mod 3 — the original ×3 form was
    * identically zero and pinned every staged image to one block row
    * (review finding — a shared-constant blind spot the oracle
    * replicated; the spec now pins all three heights appearing). */
  def jpegPxWidth(id: Long): Int = (8 * (1 + id % 4)).toInt
  def jpegPxHeight(id: Long): Int = (8 * (1 + (id / 3) % 3)).toInt

  /** Restart interval in MCUs for staged image id (0 = no DRI). Keyed on
    * g = id/3 MOD 5 — coprime with BOTH the width period (4, via id%4)
    * and the height period (3, via g%3), so over the staged corpus every
    * (width, height, restart) combination appears and a decoder bug
    * conditional on dimensions cannot hide behind a correlation (the
    * r13 residue-aliasing lesson; a g%2 key would have tied presence to
    * width exactly, since id%4 = 3g%4). Ri∈{1,2} among restart images:
    * Ri=1 on a 12-block image produces 11 RSTm markers, wrapping the
    * sequence number through all eight values. */
  def jpegRestartInterval(id: Long): Int = {
    val g = id / 3
    if (g % 5 < 2) (1 + g % 5).toInt else 0
  }

  /** Quantization table entry for ZIGZAG index k (DQT stores zigzag
    * order, and the audit lives in zigzag-index space — no de-zigzag
    * needed, which would only reshuffle the position weights). */
  def jpegQuant(id: Long, k: Int): Int = (1 + (k * 7 + id) % 16).toInt

  /** Quantized DC of block b: [-64, 63] — DIFF coding stays ≤ 7 bits. */
  def jpegDcq(id: Long, b: Int): Int = ((id * 31 + b * 17) % 128 - 64).toInt

  /** Quantized AC at zigzag index u (1..63) of block b: nonzero on a
    * stride-23 lattice (≤ 3 per block, zero-runs up to 22 → the ZRL
    * escape fires), values in [-15, -1] ∪ [1, 15] (≤ 4 amplitude bits). */
  def jpegAcq(id: Long, b: Int, u: Int): Int =
    if ((u + b + id) % 23 == 0) {
      val raw = ((id + u * 3 + b * 7) % 30 - 15).toInt
      if (raw >= 0) raw + 1 else raw
    } else 0

  // The ITU T.81 Annex K.3 luminance Huffman tables (public spec
  // constants): BITS (codes per length 1..16) and HUFFVAL.
  private val JpegDcBits = Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val JpegDcVals = Array.range(0, 12)
  private val JpegAcBits = Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125)
  private val JpegAcVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  /** Canonical Huffman code assignment (T.81 C.1-C.3): symbol →
    * (code, length). */
  private def jpegHuffCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    val out = Map.newBuilder[Int, (Int, Int)]
    var code = 0; var k = 0
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len - 1)) {
        out += vals(k) -> ((code, len)); code += 1; k += 1; i += 1
      }
      code <<= 1; len += 1
    }
    out.result()
  }

  /** Table-driven canonical Huffman decoder (T.81 F.2.2.3). */
  private final class JpegHuffDecoder(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var len = 1
      while (len <= 16) {
        if (bits(len - 1) > 0) {
          valPtr(len) = k; minCode(len) = code
          code += bits(len - 1); k += bits(len - 1)
          maxCode(len) = code - 1
        }
        code <<= 1; len += 1
      }
    }
    /** Next symbol, or -1 on an invalid code / exhausted stream. Takes
      * the reader directly (not a lambda) — this runs once per Huffman
      * symbol in a corpus-wide mapPartitions pass, and a per-symbol
      * closure allocation would be pure overhead. */
    def decode(br: JpegBitReader): Int = {
      var code = 0; var len = 0
      while (len < 16) {
        val b = br.read1(); if (b < 0) return -1
        code = (code << 1) | b; len += 1
        if (maxCode(len) >= 0 && code <= maxCode(len) && code >= minCode(len))
          return vals(valPtr(len) + code - minCode(len))
      }
      -1
    }
  }

  /** MSB-first bit writer with the mandatory 0xFF→0xFF00 byte stuffing;
    * the final partial byte pads with 1-bits (T.81 F.1.2.3). */
  private final class JpegBitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0; private var n = 0
    private def put(b: Int): Unit = {
      out.write(b & 0xff)
      if ((b & 0xff) == 0xff) out.write(0x00)
    }
    def writeBits(v: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1); n += 1
        if (n == 8) { put(acc); acc = 0; n = 0 }
        i -= 1
      }
    }
    def flush(): Unit = if (n > 0) {
      put((acc << (8 - n)) | ((1 << (8 - n)) - 1)); acc = 0; n = 0
    }
  }

  /** MSB-first bit reader with unstuffing; -1 past the scan (a marker
    * byte or the buffer end). */
  private final class JpegBitReader(bytes: Array[Byte], start: Int) {
    private var pos = start; private var acc = 0; private var n = 0
    def read1(): Int = {
      if (n == 0) {
        if (pos >= bytes.length) return -1
        val b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= bytes.length) return -1
          if ((bytes(pos) & 0xff) == 0x00) pos += 1 // stuffed data 0xFF
          else { pos -= 1; return -1 } // a real marker: scan over
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    /** Discard to the next byte boundary; true iff every discarded bit
      * was a 1 (T.81 F.1.2.3 pads restart-group tails with 1-bits —
      * strict profile rejects anything else). A 0xFF byte already pulled
      * into `acc` was data (stuffing consumed), so no rewind is needed. */
    def alignToByte(): Boolean = {
      val ok = n == 0 || (acc & ((1 << n) - 1)) == ((1 << n) - 1)
      n = 0
      ok
    }
    /** At a byte boundary, consume a 0xFF-prefixed marker and return its
      * code, or -1 if the stream holds anything else. */
    def consumeMarker(): Int = {
      if (n != 0 || pos + 1 >= bytes.length) return -1
      if ((bytes(pos) & 0xff) != 0xff) return -1
      val m = bytes(pos + 1) & 0xff
      if (m == 0x00) return -1 // stuffed data byte, not a marker
      pos += 2
      m
    }
    /** Byte offset of the next unread byte — valid at a byte boundary
      * (after [[alignToByte]]); lets a multi-scan marker walk resume
      * where a scan's entropy data ended. */
    def position: Int = pos
  }

  private def jpegCategory(v: Int): Int =
    if (v == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(v))

  /** A COMPLETE baseline JPEG for doc `id`: SOI, DQT (zigzag-ordered
    * [[jpegQuant]]), SOF0 (8-bit, ONE component, 1×1 sampling), the two
    * Annex K.3 DHT tables, DRI on restart images
    * ([[jpegRestartInterval]]), SOS, and a REAL entropy-coded scan of the
    * closed-form quantized coefficients — DC DIFF prediction across
    * blocks (reset at each RSTm), (run, size) AC coding with EOB and
    * ZRL, amplitude bits in one's-complement form, byte stuffing,
    * 1-padded byte alignment before each restart marker — then EOI. */
  def pixelJpeg(id: Long): Array[Byte] = {
    val w = jpegPxWidth(id); val h = jpegPxHeight(id)
    val nBlocks = (w / 8) * (h / 8)
    val out = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, payload: Array[Int]): Unit = {
      out.write(0xff); out.write(marker)
      val len = payload.length + 2
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      payload.foreach(b => out.write(b & 0xff))
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xdb, 0 +: Array.tabulate(64)(k => jpegQuant(id, k))) // DQT Pq=0 Tq=0
    seg(0xc0, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0))
    seg(0xc4, 0x00 +: (JpegDcBits ++ JpegDcVals))
    seg(0xc4, 0x10 +: (JpegAcBits ++ JpegAcVals))
    val ri = jpegRestartInterval(id)
    if (ri > 0) seg(0xdd, Array(ri >> 8, ri & 0xff)) // DRI
    seg(0xda, Array(1, 1, 0x00, 0, 63, 0))
    val dcCode = jpegHuffCodes(JpegDcBits, JpegDcVals)
    val acCode = jpegHuffCodes(JpegAcBits, JpegAcVals)
    val bw = new JpegBitWriter(out)
    def amp(v: Int, cat: Int): Int = if (v >= 0) v else v + (1 << cat) - 1
    var pred = 0
    var rstM = 0
    var b = 0
    while (b < nBlocks) {
      // Between restart groups: pad the entropy tail with 1-bits to the
      // byte boundary, emit RSTm with the cycling modulo-8 sequence
      // number, and reset the DC predictor (T.81 E.1.4 / F.1.2.3).
      if (ri > 0 && b > 0 && b % ri == 0) {
        bw.flush()
        out.write(0xff); out.write(0xd0 + rstM)
        rstM = (rstM + 1) % 8
        pred = 0
      }
      val dc = jpegDcq(id, b)
      val diff = dc - pred; pred = dc
      val dcat = jpegCategory(diff)
      val (dcC, dcL) = dcCode(dcat)
      bw.writeBits(dcC, dcL)
      if (dcat > 0) bw.writeBits(amp(diff, dcat), dcat)
      var run = 0
      var u = 1
      while (u < 64) {
        val v = jpegAcq(id, b, u)
        if (v == 0) run += 1
        else {
          while (run > 15) { val (c, l) = acCode(0xf0); bw.writeBits(c, l); run -= 16 }
          val cat = jpegCategory(v)
          val (c, l) = acCode((run << 4) | cat)
          bw.writeBits(c, l); bw.writeBits(amp(v, cat), cat)
          run = 0
        }
        u += 1
      }
      if (run > 0) { val (c, l) = acCode(0x00); bw.writeBits(c, l) } // EOB
      b += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Spectral-band split for the progressive scan script: AC band 1 is
    * zigzag 1..split, band 2 is split+1..63. Keyed on id/3 (the staged
    * residue class) across {1, 11, 21, 31, 41, 51} — including the
    * single-coefficient band 1..1. */
  def jpegProgSplit(id: Long): Int = (1 + ((id / 3) % 6) * 10).toInt

  // Custom canonical AC Huffman table for the progressive scans: the
  // Annex K.3 baseline AC table carries no EOBn symbols above EOB0
  // (RRRR<<4 with SSSS=0 only exists as 0x00), so progressive EOB runs
  // are unencodable with it — real progressive files ship their own
  // optimized tables for the same reason. 73 symbols, all at code
  // length 7 (canonical codes 0..72; the all-ones code stays unused per
  // T.81 C.2): EOB0..EOB7, ZRL, and (run 0..15, size 1..4).
  private val JpegProgAcBits = { val b = new Array[Int](16); b(6) = 73; b }
  private val JpegProgAcVals: Array[Int] =
    ((0 to 7).map(_ << 4) ++ Seq(0xf0) ++
      (for { r <- 0 to 15; s <- 1 to 4 } yield (r << 4) | s)).toArray

  /** A COMPLETE progressive JPEG for doc `id` — the SAME closed-form
    * coefficient model as [[pixelJpeg]], delivered through a T.81
    * Annex G scan script: DC first (Al=1) → DC refinement → AC first per
    * spectral band (Al=1, split at [[jpegProgSplit]]) → AC refinement
    * per band (Ah=1, Al=0). Every progressive entropy feature is
    * exercised: EOBn run codes spanning blocks (with appended run-length
    * bits), ZRL inside bands, newly-nonzero (run,1) refinement symbols
    * whose zero runs count zero-HISTORY positions only, and buffered
    * correction bits for already-nonzero coefficients flushed after the
    * next symbol/EOB run (the T.81 G.1.2.3 ordering). Point transforms
    * follow the spec's asymmetry — DC: arithmetic shift; AC: magnitude
    * shift — and the script ends at Al=0, so a full decode reconstructs
    * the model EXACTLY and the baseline coefficient oracle applies
    * verbatim. `dropLastRefine` omits the final AC refinement scan — the
    * spec's negative control: the file stays valid T.81, but band-2
    * coefficients keep a missing low bit and the moment moves. */
  def pixelJpegProgressive(id: Long, dropLastRefine: Boolean = false): Array[Byte] = {
    val w = jpegPxWidth(id); val h = jpegPxHeight(id)
    val nBlocks = (w / 8) * (h / 8)
    val out = new java.io.ByteArrayOutputStream()
    def seg(marker: Int, payload: Array[Int]): Unit = {
      out.write(0xff); out.write(marker)
      val len = payload.length + 2
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      payload.foreach(b => out.write(b & 0xff))
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xdb, 0 +: Array.tabulate(64)(k => jpegQuant(id, k)))
    seg(0xc2, Array(8, h >> 8, h & 0xff, w >> 8, w & 0xff, 1, 1, 0x11, 0)) // SOF2
    seg(0xc4, 0x00 +: (JpegDcBits ++ JpegDcVals))
    seg(0xc4, 0x10 +: (JpegProgAcBits ++ JpegProgAcVals))
    val dcCode = jpegHuffCodes(JpegDcBits, JpegDcVals)
    val acCode = jpegHuffCodes(JpegProgAcBits, JpegProgAcVals)
    def amp(v: Int, cat: Int): Int = if (v >= 0) v else v + (1 << cat) - 1

    // Scan 1: DC first, Ss=Se=0, Ah=0, Al=1. DIFF prediction runs in the
    // POINT-TRANSFORMED domain (arithmetic shift — G.1.2.1).
    locally {
      seg(0xda, Array(1, 1, 0x00, 0, 0, 0x01))
      val bw = new JpegBitWriter(out)
      var pred = 0
      var b = 0
      while (b < nBlocks) {
        val v = jpegDcq(id, b) >> 1
        val diff = v - pred; pred = v
        val cat = jpegCategory(diff)
        val (c, l) = dcCode(cat); bw.writeBits(c, l)
        if (cat > 0) bw.writeBits(amp(diff, cat), cat)
        b += 1
      }
      bw.flush()
    }
    // Scan 2: DC refinement, Ah=1, Al=0 — one RAW bit per block (no
    // Huffman): the Al-th bit of the full-precision DC.
    locally {
      seg(0xda, Array(1, 1, 0x00, 0, 0, 0x10))
      val bw = new JpegBitWriter(out)
      var b = 0
      while (b < nBlocks) { bw.writeBits(jpegDcq(id, b) & 1, 1); b += 1 }
      bw.flush()
    }

    // AC first scan over zigzag band ss..se at Al=1. Point transform is
    // the MAGNITUDE shift (G.1.2.2): |v| >> Al with the sign reapplied —
    // |v| = 1 coefficients vanish here and surface as newly-nonzero in
    // the refinement scan.
    def acFirstScan(ss: Int, se: Int): Unit = {
      seg(0xda, Array(1, 1, 0x00, ss, se, 0x01))
      val bw = new JpegBitWriter(out)
      var eobrun = 0
      def flushEob(): Unit = if (eobrun > 0) {
        val n = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (c, l) = acCode(n << 4); bw.writeBits(c, l)
        if (n > 0) bw.writeBits(eobrun, n) // low n bits: eobrun − 2^n
        eobrun = 0
      }
      var b = 0
      while (b < nBlocks) {
        var r = 0
        var u = ss
        while (u <= se) {
          val v = jpegAcq(id, b, u)
          val t = math.abs(v) >> 1
          if (t == 0) r += 1
          else {
            flushEob()
            while (r > 15) { val (c, l) = acCode(0xf0); bw.writeBits(c, l); r -= 16 }
            val cat = jpegCategory(t)
            val tv = if (v < 0) -t else t
            val (c, l) = acCode((r << 4) | cat); bw.writeBits(c, l)
            bw.writeBits(amp(tv, cat), cat)
            r = 0
          }
          u += 1
        }
        if (r > 0) eobrun += 1 // trailing zeros fold into the EOB run
        b += 1
      }
      flushEob(); bw.flush()
    }

    // AC refinement scan over ss..se, Ah=1, Al=0 — the G.1.2.3 encoder:
    // zero runs count zero-HISTORY positions only; already-nonzero
    // coefficients contribute buffered correction bits, flushed after
    // the next emitted symbol's bits (or with the EOB run that carries
    // their blocks); ZRL escapes only while inside the band's last
    // newly-nonzero index (beyond it, zeros fold into the EOB run).
    def acRefineScan(ss: Int, se: Int): Unit = {
      seg(0xda, Array(1, 1, 0x00, ss, se, 0x10))
      val bw = new JpegBitWriter(out)
      var eobrun = 0
      // TWO correction-bit buffers, per G.1.2.3 / the reference encoder
      // discipline: `carried` holds the bits of blocks already folded
      // into the pending EOB run (flushed right after the EOBn symbol —
      // the decoder consumes them in those blocks' tail passes), `cur`
      // holds the CURRENT block's bits (flushed after this block's next
      // ZRL or (run,1) symbol — the decoder consumes them during that
      // symbol's advance walk). One shared buffer desyncs the stream:
      // the current block's bits would arrive before its symbol.
      val carried = scala.collection.mutable.ArrayBuffer.empty[Int]
      val cur = scala.collection.mutable.ArrayBuffer.empty[Int]
      def flushCur(): Unit = { cur.foreach(bit => bw.writeBits(bit, 1)); cur.clear() }
      def emitEobrun(): Unit = if (eobrun > 0) {
        val n = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (c, l) = acCode(n << 4); bw.writeBits(c, l)
        if (n > 0) bw.writeBits(eobrun, n)
        eobrun = 0
        carried.foreach(bit => bw.writeBits(bit, 1)); carried.clear()
      }
      var b = 0
      while (b < nBlocks) {
        var eobk = ss - 1 // last newly-nonzero index in this block's band
        var u = ss
        while (u <= se) { if (math.abs(jpegAcq(id, b, u)) == 1) eobk = u; u += 1 }
        var r = 0
        u = ss
        while (u <= se) {
          val v = jpegAcq(id, b, u)
          val t = math.abs(v)
          if (t == 0) r += 1
          else {
            while (r > 15 && u <= eobk) {
              emitEobrun()
              val (c, l) = acCode(0xf0); bw.writeBits(c, l); r -= 16
              flushCur()
            }
            if (t > 1) cur += (t & 1)
            else {
              emitEobrun()
              val (c, l) = acCode((r << 4) | 1); bw.writeBits(c, l); r = 0
              bw.writeBits(if (v < 0) 0 else 1, 1)
              flushCur()
            }
          }
          u += 1
        }
        if (r > 0 || cur.nonEmpty) {
          eobrun += 1
          carried ++= cur; cur.clear()
        }
        b += 1
      }
      emitEobrun(); bw.flush()
    }

    val ks = jpegProgSplit(id)
    acFirstScan(1, ks)
    acFirstScan(ks + 1, 63)
    acRefineScan(1, ks)
    if (!dropLastRefine) acRefineScan(ks + 1, 63)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Per-image dequantized-coefficient statistics (zigzag-index space):
    * the moment weights every coefficient by its (block·64 + index)
    * position, so a wrong DC prediction, run expansion, table or
    * dequantization shifts it. */
  final case class DecodedCoeffs(width: Int, height: Int, nBlocks: Int,
                                 dcSum: Long, acAbsSum: Long,
                                 nNonzeroAc: Long, moment: Long)

  /** REAL entropy decode for the staged JPEG profiles, pure JVM: a
    * marker walk collecting DQT/DHT/SOF/DRI, then a Huffman decode of
    * EVERY scan into one quantized-coefficient array, dequantized at
    * EOI. BASELINE (SOF0) files take the sequential path: one
    * full-spectrum scan with DC DIFF prediction, EOB/ZRL/(run,size)
    * expansion, one's-complement EXTEND, and strict RSTm restart
    * sequencing. PROGRESSIVE (SOF2) files decode the T.81 Annex G scan
    * scripts: DC first/refinement scans (point transform = arithmetic
    * shift; refinement = one raw bit per block OR-ed at Al), AC first
    * scans per spectral band (EOBn run codes with appended run-length
    * bits; values stored << Al), and AC refinement scans (newly-nonzero
    * (run,1) symbols whose zero runs count zero-HISTORY positions only,
    * correction bits consumed in position order for already-nonzero
    * coefficients, EOB runs carrying the covered blocks' correction
    * bits). None for anything outside the profiles (multi-component,
    * subsampled, fractional blocks, 12-bit, DRI inside a progressive
    * file) or any invalid code / truncation / missing table / non-1
    * padding / dangling EOB run. */
  def decodeJpegCoeffs(media: Array[Byte]): Option[DecodedCoeffs] = {
    if (media.length < 4 || (media(0) & 0xff) != 0xff || (media(1) & 0xff) != 0xd8)
      return None
    def u16(off: Int): Int = ((media(off) & 0xff) << 8) | (media(off + 1) & 0xff)
    var quant: Array[Int] = null
    var dcDec: JpegHuffDecoder = null
    var acDec: JpegHuffDecoder = null
    var dims: (Int, Int) = null
    var progressive = false
    var restartInterval = 0
    var coefs: Array[Int] = null // QUANTIZED coefficients, zigzag space
    var nBlocks = 0

    def extend(bitsv: Int, cat: Int): Int =
      if (cat == 0) 0
      else if (bitsv < (1 << (cat - 1))) bitsv - (1 << cat) + 1
      else bitsv
    def readAmp(br: JpegBitReader, cat: Int): Int = {
      var v = 0; var i = 0
      while (i < cat) {
        val bit = br.read1(); if (bit < 0) return Int.MinValue
        v = (v << 1) | bit; i += 1
      }
      extend(v, cat)
    }
    def readRaw(br: JpegBitReader, n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        val bit = br.read1(); if (bit < 0) return Int.MinValue
        v = (v << 1) | bit; i += 1
      }
      v
    }

    // The baseline sequential scan (full spectrum, Ah=Al=0, restarts).
    // Returns the offset of the byte after the scan's entropy data.
    def decodeSequentialScan(start: Int): Option[Int] = {
      val br = new JpegBitReader(media, start)
      var pred = 0
      var rstM = 0
      var b = 0
      while (b < nBlocks) {
        // Restart-marker boundary (T.81 E.1.4): byte-align (discarded
        // pad bits must be 1s), consume RSTm, check the modulo-8
        // sequence number STRICTLY, reset the DC predictor.
        if (restartInterval > 0 && b > 0 && b % restartInterval == 0) {
          if (!br.alignToByte()) return None
          val m = br.consumeMarker()
          if (m != 0xd0 + rstM) return None
          rstM = (rstM + 1) % 8
          pred = 0
        }
        val dcat = dcDec.decode(br)
        if (dcat < 0 || dcat > 11) return None
        val diff = readAmp(br, dcat); if (diff == Int.MinValue) return None
        pred += diff
        coefs(b * 64) = pred
        var u = 1
        var eob = false
        while (u < 64 && !eob) {
          val sym = acDec.decode(br)
          if (sym < 0) return None
          if (sym == 0x00) eob = true // EOB: rest of the block is zero
          else if (sym == 0xf0) {
            // ZRL must be FOLLOWED by a nonzero coefficient (T.81
            // forbids ending a block on a bare ZRL).
            u += 16
            if (u > 63) return None
          }
          else {
            val run = (sym >> 4) & 0x0f; val cat = sym & 0x0f
            if (cat == 0 || cat > 10) return None
            u += run
            if (u > 63) return None
            val v = readAmp(br, cat); if (v == Int.MinValue) return None
            coefs(b * 64 + u) = v
            u += 1
          }
          if (u > 64) return None // a run overran the block
        }
        b += 1
      }
      if (!br.alignToByte()) return None
      Some(br.position)
    }

    // One progressive scan (T.81 Annex G). Returns the offset after the
    // scan's entropy data.
    def decodeProgressiveScan(start: Int, ss: Int, se: Int, ah: Int, al: Int): Option[Int] = {
      val br = new JpegBitReader(media, start)
      if (ss == 0) {
        if (se != 0 || al > 13) return None
        if (ah == 0) { // DC first: DIFF prediction in the shifted domain
          if (dcDec == null) return None
          var pred = 0
          var b = 0
          while (b < nBlocks) {
            val dcat = dcDec.decode(br)
            if (dcat < 0 || dcat > 11) return None
            val diff = readAmp(br, dcat); if (diff == Int.MinValue) return None
            pred += diff
            coefs(b * 64) = pred << al
            b += 1
          }
        } else { // DC refinement: one raw bit per block, OR-ed at Al
          if (ah != al + 1) return None
          var b = 0
          while (b < nBlocks) {
            val bit = br.read1(); if (bit < 0) return None
            if (bit == 1) coefs(b * 64) |= (1 << al)
            b += 1
          }
        }
      } else { // AC scan over band ss..se
        if (se < ss || se > 63 || acDec == null || al > 13) return None
        if (ah == 0) { // AC first scan: values enter at << Al
          var eobrun = 0
          var b = 0
          while (b < nBlocks) {
            if (eobrun > 0) eobrun -= 1
            else {
              var k = ss
              while (k <= se) {
                val sym = acDec.decode(br); if (sym < 0) return None
                val r = (sym >> 4) & 0x0f; val cat = sym & 0x0f
                if (cat != 0) {
                  if (cat > 10) return None
                  k += r
                  if (k > se) return None
                  val v = readAmp(br, cat); if (v == Int.MinValue) return None
                  coefs(b * 64 + k) = v << al
                  k += 1
                } else if (r == 15) {
                  k += 16 // ZRL: sixteen zeros inside the band
                  if (k > se + 1) return None
                } else {
                  // EOBn: run of 2^r (+ r extra bits) all-zero bands,
                  // INCLUDING this block's remainder.
                  eobrun = 1 << r
                  if (r > 0) {
                    val extra = readRaw(br, r); if (extra == Int.MinValue) return None
                    eobrun += extra
                  }
                  eobrun -= 1 // this block consumed
                  k = se + 1
                }
              }
            }
            b += 1
          }
          if (eobrun != 0) return None // a run past the last block is corrupt
        } else { // AC refinement scan
          if (ah != al + 1) return None
          val p1 = 1 << al; val m1 = -(1 << al)
          // Correction bit for an already-nonzero coefficient at k:
          // consume one bit; a 1 sets the Al bit toward the sign.
          def correct(idx: Int): Boolean = {
            val bit = br.read1(); if (bit < 0) return false
            if (bit == 1 && (coefs(idx) & p1) == 0)
              coefs(idx) += (if (coefs(idx) >= 0) p1 else m1)
            true
          }
          var eobrun = 0
          var b = 0
          while (b < nBlocks) {
            var k = ss
            if (eobrun == 0) {
              var broke = false
              while (k <= se && !broke) {
                val sym = acDec.decode(br); if (sym < 0) return None
                val r0 = (sym >> 4) & 0x0f; val cat = sym & 0x0f
                var newval = 0
                var isEob = false
                if (cat != 0) {
                  if (cat != 1) return None // refinement codes size 1 only
                  val bit = br.read1(); if (bit < 0) return None
                  newval = if (bit == 1) p1 else m1
                } else if (r0 != 15) {
                  eobrun = 1 << r0
                  if (r0 > 0) {
                    val extra = readRaw(br, r0); if (extra == Int.MinValue) return None
                    eobrun += extra
                  }
                  isEob = true
                }
                if (isEob) broke = true // EOB-run tail handled below
                else {
                  // Advance over r0 zero-HISTORY positions (16 for ZRL),
                  // consuming correction bits at nonzero-history ones.
                  var r = r0
                  var adv = true
                  while (k <= se && adv) {
                    val idx = b * 64 + k
                    if (coefs(idx) != 0) { if (!correct(idx)) return None }
                    else { r -= 1; if (r < 0) adv = false }
                    if (adv) k += 1
                  }
                  if (newval != 0) {
                    if (k > se) return None
                    coefs(b * 64 + k) = newval
                  }
                  k += 1
                }
              }
            }
            if (eobrun > 0) {
              // Correction bits for the rest of the band, then one run
              // unit consumed by this block.
              while (k <= se) {
                val idx = b * 64 + k
                if (coefs(idx) != 0) { if (!correct(idx)) return None }
                k += 1
              }
              eobrun -= 1
            }
            b += 1
          }
          if (eobrun != 0) return None
        }
      }
      if (!br.alignToByte()) return None
      Some(br.position)
    }

    var off = 2
    var sawScan = false
    var done = false
    while (!done) {
      if (off + 2 > media.length || (media(off) & 0xff) != 0xff) return None
      val marker = media(off + 1) & 0xff
      if (marker == 0xd9) { // EOI ends the walk
        if (!sawScan) return None
        done = true
      } else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        return None // standalone marker outside a scan
      } else {
        if (off + 4 > media.length) return None
        val segLen = u16(off + 2)
        if (segLen < 2 || off + 2 + segLen > media.length) return None
        val p0 = off + 4; val pEnd = off + 2 + segLen
        var next = pEnd
        marker match {
          case 0xdb => // DQT: one or more (PqTq + 64) tables
            var p = p0
            while (p < pEnd) {
              if ((media(p) & 0xff) != 0x00) return None // 8-bit table 0 only
              if (p + 65 > pEnd) return None
              quant = Array.tabulate(64)(k => media(p + 1 + k) & 0xff)
              p += 65
            }
          case 0xc4 => // DHT: one or more (TcTh + bits + vals) tables
            var p = p0
            while (p < pEnd) {
              val tcth = media(p) & 0xff
              if (p + 17 > pEnd) return None
              val bits = Array.tabulate(16)(i => media(p + 1 + i) & 0xff)
              val nVals = bits.sum
              if (p + 17 + nVals > pEnd) return None
              val vals = Array.tabulate(nVals)(i => media(p + 17 + i) & 0xff)
              tcth match {
                case 0x00 => dcDec = new JpegHuffDecoder(bits, vals)
                case 0x10 => acDec = new JpegHuffDecoder(bits, vals)
                case _ => return None // only table id 0 in this profile
              }
              p += 17 + nVals
            }
          case 0xc0 | 0xc2 => // SOF0 baseline / SOF2 progressive
            if (dims != null) return None // one frame header only
            if (segLen != 8 + 3) return None // exactly one component
            if ((media(p0) & 0xff) != 8) return None
            val h = u16(p0 + 1); val w = u16(p0 + 3)
            if ((media(p0 + 5) & 0xff) != 1) return None
            if ((media(p0 + 7) & 0xff) != 0x11) return None // 1x1 sampling
            if ((media(p0 + 8) & 0xff) != 0) return None // quant table 0
            if (w <= 0 || h <= 0 || w % 8 != 0 || h % 8 != 0 ||
                w > 4096 || h > 4096) return None
            progressive = marker == 0xc2
            dims = (w, h)
            nBlocks = (w / 8) * (h / 8)
            coefs = new Array[Int](nBlocks * 64)
          case m if m >= 0xc1 && m <= 0xcf && m != 0xc4 =>
            return None // extended/arithmetic/hierarchical: out of profile
          case 0xdd => // DRI: restart interval in MCUs (0 disables)
            if (segLen != 4) return None
            restartInterval = u16(p0)
          case 0xda =>
            // One component => Ls = 6 + 2*Ns = 8 exactly; anything else
            // is out of profile AND would read past the segment.
            if (segLen != 8) return None
            if ((media(p0) & 0xff) != 1) return None
            if ((media(p0 + 2) & 0xff) != 0x00) return None // DC0/AC0
            if (quant == null || dims == null) return None
            val ss = media(p0 + 3) & 0xff
            val se = media(p0 + 4) & 0xff
            val ahal = media(p0 + 5) & 0xff
            val scanEnd =
              if (!progressive) {
                if (ss != 0 || se != 63 || ahal != 0) return None
                if (dcDec == null || acDec == null) return None
                decodeSequentialScan(pEnd)
              } else {
                if (restartInterval != 0) return None // out of profile
                decodeProgressiveScan(pEnd, ss, se, (ahal >> 4) & 0x0f, ahal & 0x0f)
              }
            scanEnd match {
              case Some(e) => next = e; sawScan = true
              case None => return None
            }
          case _ => () // APPn / COM: skip
        }
        off = next
      }
    }
    // Dequantize and aggregate from the final coefficient array.
    val (w, h) = dims
    var dcSum = 0L; var acAbs = 0L; var nz = 0L; var moment = 0L
    var b = 0
    while (b < nBlocks) {
      val dcd = coefs(b * 64).toLong * quant(0)
      dcSum += dcd; moment += (b.toLong * 64) * dcd
      var u = 1
      while (u < 64) {
        val c = coefs(b * 64 + u)
        if (c != 0) {
          val d = c.toLong * quant(u)
          acAbs += math.abs(d); nz += 1
          moment += (b.toLong * 64 + u) * d
        }
        u += 1
      }
      b += 1
    }
    Some(DecodedCoeffs(w, h, nBlocks, dcSum, acAbs, nz, moment))
  }

  /** Per-image coefficient-statistics row the decode pass emits. */
  case class JpegCoeffStats(doc_id: Long, source: String, width: Int,
                            height: Int, n_blocks: Int, dc_sum: Long,
                            ac_abs_sum: Long, n_nonzero_ac: Long,
                            moment: Long)

  /** JPEG-coefficient-staged media table: every 3rd doc a COMPLETE
    * baseline JPEG ([[pixelJpeg]]), the rest bare text — the PNG/GIF
    * staging discipline. */
  def jpegCoeffTableStaged(s: SparkSession, dir: String): DataFrame =
    jpegCoeffMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  def jpegCoeffMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 0) pixelJpeg(id)
          else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** MIXED-mode JPEG staging: every 3rd doc is a complete JPEG — half of
    * them BASELINE ([[pixelJpeg]], id/3 even — keeping the restart-
    * marker coverage), half PROGRESSIVE ([[pixelJpegProgressive]], id/3
    * odd), both encoding the SAME closed-form coefficient model. The
    * decoder must dispatch on the SOF marker per file; the baseline
    * coefficient oracle applies to the mix verbatim. */
  def jpegMixedCoeffTableStaged(s: SparkSession, dir: String): DataFrame =
    jpegMixedCoeffMediaOf(s, graft.Tables.documents(s, dir).select(col("doc_id"), col("source")))

  def jpegMixedCoeffMediaOf(s: SparkSession, ids: DataFrame): DataFrame = {
    import s.implicits._
    ids.as[(Long, String)]
      .mapPartitions(_.map { case (id, src) =>
        val media =
          if (id % 3 == 0) {
            if ((id / 3) % 2 == 0) pixelJpeg(id) else pixelJpegProgressive(id)
          } else s"doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** JPEG coefficient-decode pass over the mixed corpus. */
  def decodedJpegCoeffsMixed(s: SparkSession, dir: String): DataFrame =
    decodedJpegCoeffsOf(s, jpegMixedCoeffTableStaged(s, dir))

  /** JPEG coefficient-decode pass: the decode is the filter. */
  def decodedJpegCoeffs(s: SparkSession, dir: String): DataFrame =
    decodedJpegCoeffsOf(s, jpegCoeffTableStaged(s, dir))

  def decodedJpegCoeffsOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeJpegCoeffs(r.media).map(c =>
          JpegCoeffStats(r.doc_id, r.source, c.width, c.height, c.nBlocks,
            c.dcSum, c.acAbsSum, c.nNonzeroAc, c.moment))
      })
      .toDF()
  }

  // --------------------------------- TIFF / EXIF (IFD walk, both endians)
  //
  // The EIGHTH container: TIFF 6.0 + the EXIF sub-IFD — the metadata
  // format every camera JPEG embeds and every scanned-document corpus
  // ships natively. Unlike the seven parsers above, TIFF is DUAL-ENDIAN
  // by declaration ("II" little / "MM" big in the header), offsets are
  // in FILE byte order, and scalar values small enough to fit inline
  // occupy the LEFT bytes of the 4-byte value field — three distinct
  // endianness traps the fixture stages both ways. Directory entries are
  // (tag u16, type u16, count u32, value-or-offset u32); values wider
  // than 4 bytes (ASCII strings, RATIONALs) live at an absolute offset
  // the reader must SEEK to (the fixture places the value area BEFORE
  // the IFD for odd ids, so "values follow the directory" assumptions
  // desync), and IFDs chain via a trailing next-IFD offset (ids % 5 == 0
  // carry a thumbnail IFD1 the chain walk must count without letting it
  // override IFD0's tags).

  /** Typed TIFF/EXIF metadata: byte order, IFD0 dimensions/orientation/
    * make, X-resolution as a quantized integer (num·1000 div den — both
    * engines' integer division agrees on positives), and from the EXIF
    * sub-IFD the ISO rating and exposure denominator (exposures are
    * 1/den s). `n_ifds` counts the next-IFD chain. */
  case class TiffMeta(doc_id: Long, source: String, bytes: Long,
                      endian: String, width: Int, height: Int,
                      orientation: Int, make: String, res_q: Long,
                      iso: Int, exp_den: Int, n_ifds: Int)

  /** The staged TIFF value model (pure doc_id arithmetic, replicated by
    * the DuckDB oracle while Spark PARSES the bytes). */
  def tiffWidth(id: Long): Int = ((id * 9) % 2000 + 16).toInt
  def tiffHeight(id: Long): Int = ((id * 17) % 1500 + 16).toInt
  def tiffOrientation(id: Long): Int = (id % 8 + 1).toInt
  def tiffMake(id: Long): String = s"graft-cam-${id % 7}"
  def tiffResNum(id: Long): Int = (72 + id % 300).toInt
  def tiffResDen(id: Long): Int = (1 + id % 3).toInt
  def tiffIso(id: Long): Int = (100 + (id % 32) * 25).toInt
  def tiffExpDen(id: Long): Int = (30 + id % 200).toInt

  private val TagWidth = 0x0100
  private val TagHeight = 0x0101
  private val TagMake = 0x010f
  private val TagOrientation = 0x0112
  private val TagXRes = 0x011a
  private val TagExifPtr = 0x8769
  private val TagIso = 0x8827
  private val TagExposure = 0x829a

  private[graft] case class TiffFields(endian: String, width: Int, height: Int,
      orientation: Int, make: String, resQ: Long, iso: Int, expDen: Int,
      nIfds: Int)

  /** REAL TIFF/EXIF parse: header (byte order + magic 42 + IFD0 offset),
    * IFD0 entry walk extracting width/height/make/orientation/
    * X-resolution, the EXIF sub-IFD pointer followed to ISO + exposure,
    * and the next-IFD chain counted. Strict on the rules that matter:
    * every multi-byte read honors the DECLARED byte order (offsets
    * included), inline values read from the LEFT of the value field,
    * types must match the tag's spec type (SHORT 3 / LONG 4 / ASCII 2 /
    * RATIONAL 5), out-of-range offsets or a missing required tag abort
    * to None. A text payload can never reach the walk: byte 0 must be
    * 'I'/'M' paired with magic 42 in that byte order AND a parsable
    * directory. */
  private[graft] def decodeTiffFields(media: Array[Byte]): Option[TiffFields] = {
    if (media.length < 8) return None
    val little = media(0) == 'I'.toByte && media(1) == 'I'.toByte
    val big = media(0) == 'M'.toByte && media(1) == 'M'.toByte
    if (!little && !big) return None
    def u16(at: Int): Int = {
      if (at < 0 || at + 2 > media.length) return -1
      if (little) (media(at) & 0xff) | ((media(at + 1) & 0xff) << 8)
      else ((media(at) & 0xff) << 8) | (media(at + 1) & 0xff)
    }
    def u32(at: Int): Long = {
      if (at < 0 || at + 4 > media.length) return -1L
      if (little)
        (media(at) & 0xffL) | ((media(at + 1) & 0xffL) << 8) |
        ((media(at + 2) & 0xffL) << 16) | ((media(at + 3) & 0xffL) << 24)
      else
        ((media(at) & 0xffL) << 24) | ((media(at + 1) & 0xffL) << 16) |
        ((media(at + 2) & 0xffL) << 8) | (media(at + 3) & 0xffL)
    }
    if (u16(2) != 42) return None

    // One IFD walk: returns (tag -> (type, count, valueFieldOffset), next)
    def walk(at: Int): Option[(Map[Int, (Int, Long, Int)], Long)] = {
      val n = u16(at)
      if (n <= 0 || n > 512) return None
      val entries = (0 until n).map { i =>
        val e = at + 2 + 12 * i
        val tag = u16(e)
        val typ = u16(e + 2)
        val cnt = u32(e + 4)
        if (tag < 0 || typ < 0 || cnt < 0) return None
        tag -> (typ, cnt, e + 8)
      }.toMap
      val next = u32(at + 2 + 12 * n)
      if (next < 0) None else Some((entries, next))
    }
    def typeSize(t: Int): Int = t match {
      case 1 | 2 => 1; case 3 => 2; case 4 => 4; case 5 => 8; case _ => 0
    }
    /** Absolute position of a value: inline (LEFT bytes of the value
      * field) when total size ≤ 4, else at the u32 offset the field
      * holds — in FILE byte order, the trap. */
    def valueAt(typ: Int, cnt: Long, field: Int): Int = {
      val total = typeSize(typ) * cnt
      if (total <= 0) -1
      else if (total <= 4) field
      else {
        val off = u32(field)
        if (off < 0 || off + total > media.length) -1 else off.toInt
      }
    }
    def short(m: Map[Int, (Int, Long, Int)], tag: Int): Option[Int] =
      m.get(tag).collect { case (3, 1L, f) => u16(valueAt(3, 1, f)) }.filter(_ >= 0)
    def long(m: Map[Int, (Int, Long, Int)], tag: Int): Option[Long] =
      m.get(tag).collect { case (4, 1L, f) => u32(valueAt(4, 1, f)) }.filter(_ >= 0)
    def ascii(m: Map[Int, (Int, Long, Int)], tag: Int): Option[String] =
      m.get(tag).collect { case (2, cnt, f) if cnt >= 1 =>
        val at = valueAt(2, cnt, f)
        if (at < 0) return None
        // NUL-terminated by spec; count includes the NUL.
        new String(media, at, cnt.toInt - 1, "US-ASCII")
      }
    def rational(m: Map[Int, (Int, Long, Int)], tag: Int): Option[(Long, Long)] =
      m.get(tag).collect { case (5, 1L, f) =>
        val at = valueAt(5, 1, f)
        if (at < 0) return None
        (u32(at), u32(at + 4))
      }.filter { case (n2, d2) => n2 >= 0 && d2 > 0 }

    val ifd0Off = u32(4)
    if (ifd0Off < 8) return None
    for {
      (ifd0, next0) <- walk(ifd0Off.toInt)
      w <- short(ifd0, TagWidth)
      h <- long(ifd0, TagHeight)
      orient <- short(ifd0, TagOrientation)
      make <- ascii(ifd0, TagMake)
      (rn, rd) <- rational(ifd0, TagXRes)
      exifOff <- long(ifd0, TagExifPtr)
      (exif, _) <- if (exifOff >= 8 && exifOff < media.length) walk(exifOff.toInt) else None
      iso <- short(exif, TagIso)
      (_, expDen) <- rational(exif, TagExposure)
    } yield {
      // Count the IFD0 → IFD1 → ... chain (EXIF sub-IFD not part of it).
      var nIfds = 1
      var nx = next0
      var guard = 0
      while (nx >= 8 && nx < media.length && guard < 16) {
        walk(nx.toInt) match {
          case Some((_, n2)) => nIfds += 1; nx = n2; guard += 1
          case None => nx = 0
        }
      }
      TiffFields(if (little) "II" else "MM", w, h.toInt, orient, make,
        rn * 1000L / rd, iso, expDen.toInt, nIfds)
    }
  }

  /** A COMPLETE little- or big-endian TIFF with IFD0 (width, height,
    * make, orientation, X-resolution rational, EXIF pointer), the EXIF
    * sub-IFD (ISO, exposure rational), an optional chained thumbnail
    * IFD1, and arbitrary trailing junk. For odd ids the out-of-line
    * value area precedes IFD0 — offset-following is load-bearing. */
  def tiffFile(id: Long, junk: Array[Byte]): Array[Byte] = {
    val little = id % 2 == 0
    val order = if (little) java.nio.ByteOrder.LITTLE_ENDIAN
                else java.nio.ByteOrder.BIG_ENDIAN
    val make = (tiffMake(id) + "\u0000").getBytes("US-ASCII")
    val hasIfd1 = id % 5 == 0
    // Sizes: header 8; IFD0 = 2 + 6*12 + 4 = 78; values: make + xres 8 +
    // exposure 8; EXIF IFD = 2 + 2*12 + 4 = 30; IFD1 = 2 + 12 + 4 = 18.
    val ifd0Size = 2 + 6 * 12 + 4
    val exifSize = 2 + 2 * 12 + 4
    val valSize = make.length + 8 + 8
    val valueFirst = id % 2 == 1 // MM files: value area before IFD0
    val valBase = if (valueFirst) 8 else 8 + ifd0Size
    val ifd0At = if (valueFirst) 8 + valSize + exifSize else 8
    val exifAt = if (valueFirst) 8 + valSize else valBase + valSize
    // IFD1 is always written LAST, whichever of the two layouts precedes.
    val ifd1At = 8 + ifd0Size + exifSize + valSize
    val makeAt = valBase
    val xresAt = valBase + make.length
    val expAt = xresAt + 8
    val total = 8 + ifd0Size + exifSize + valSize + (if (hasIfd1) 18 else 0)
    val b = java.nio.ByteBuffer.allocate(total).order(order)
    b.put((if (little) "II" else "MM").getBytes("US-ASCII"))
    b.putShort(42).putInt(ifd0At)
    def entry(tag: Int, typ: Int, cnt: Int, writeValue: java.nio.ByteBuffer => Unit): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt)
      val before = b.position()
      writeValue(b)
      // Inline values pack LEFT; pad the field to exactly 4 bytes.
      while (b.position() < before + 4) b.put(0.toByte)
    }
    def writeIfd0(): Unit = {
      b.putShort(6)
      entry(TagWidth, 3, 1, _.putShort(tiffWidth(id).toShort))
      entry(TagHeight, 4, 1, _.putInt(tiffHeight(id)))
      entry(TagMake, 2, make.length, _.putInt(makeAt))
      entry(TagOrientation, 3, 1, _.putShort(tiffOrientation(id).toShort))
      entry(TagXRes, 5, 1, _.putInt(xresAt))
      entry(TagExifPtr, 4, 1, _.putInt(exifAt))
      b.putInt(if (hasIfd1) ifd1At else 0)
    }
    def writeExif(): Unit = {
      b.putShort(2)
      entry(TagExposure, 5, 1, _.putInt(expAt))
      entry(TagIso, 3, 1, _.putShort(tiffIso(id).toShort))
      b.putInt(0)
    }
    def writeValues(): Unit = {
      b.put(make)
      b.putInt(tiffResNum(id)).putInt(tiffResDen(id))
      b.putInt(1).putInt(tiffExpDen(id))
    }
    if (valueFirst) { writeValues(); writeExif(); writeIfd0() }
    else { writeIfd0(); writeValues(); writeExif() }
    if (hasIfd1) {
      b.putShort(1)
      entry(0x0103, 3, 1, _.putShort(6)) // Compression: thumbnail JPEG
      b.putInt(0)
    }
    b.array() ++ junk
  }

  /** Mixed corpus for the EXIF gate: ids % 3 == 1 staged as full TIFFs
    * (both endians by id parity; trailing junk QUOTES the "II*\0" magic
    * so resync-by-signature parsers split), everything else bare text. */
  def tiffTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 3 == 1)
            tiffFile(id, "II*\u0000decoy".getBytes("US-ASCII") ++ payload)
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** TIFF/EXIF decode pass: the parse is the filter, as every gate. */
  def decodedTiff(s: SparkSession, dir: String): DataFrame =
    decodedTiffOf(s, tiffTableStaged(s, dir))

  def decodedTiffOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeTiffFields(r.media).map(f =>
          TiffMeta(r.doc_id, r.source, r.media.length.toLong, f.endian,
            f.width, f.height, f.orientation, f.make, f.resQ, f.iso,
            f.expDen, f.nIfds))
      })
      .toDF()
  }

  // ------------------------------- Ogg (RFC 3533 page walk + packet framing)
  //
  // The NINTH container: Ogg, the framing layer under Vorbis/Opus/Theora —
  // what crawled open-web audio actually ships in. Three things make the
  // walk load-bearing in ways no previous gate covers:
  //   - Ogg's CRC-32 is NOT zlib's: polynomial 0x04c11db7 applied FORWARD
  //     (no bit reflection), init 0, no final xor, computed over the whole
  //     page with the checksum field zeroed. A parser reusing
  //     java.util.zip.CRC32 fails every page.
  //   - PACKETS are framed by the lacing table: each segment's lacing
  //     value is 255 ("packet continues") or < 255 ("packet ends here",
  //     including 0 for an exact-multiple terminator), so the number of
  //     COMPLETED packets on a page is the count of sub-255 lacing
  //     values — arithmetic the fixture varies per page.
  //   - Packets SPAN pages: a page ending in lacing 255 leaves a packet
  //     open, and the next page must carry the continuation flag (0x01).
  //     The walk enforces flag/lacing CONSISTENCY both ways — a flag
  //     without an open packet, or an open packet without the flag, is
  //     a framing corruption and refuses.
  // The walk also requires BOS on page 0, EOS on the last page (trailing
  // junk after EOS is legal and ignored — the flag decides where the
  // stream ends, not the buffer length), strictly increasing sequence
  // numbers, and one serial throughout.

  /** Ogg page CRC (RFC 3533 §6): forward CRC-32, poly 0x04c11db7,
    * init 0, no reflection, no final xor. Property pins (OggSpec):
    * crc([0x00]) = 0, crc([0x01]) = the polynomial itself. */
  private val OggCrcTable: Array[Int] = Array.tabulate(256) { n =>
    var r = n << 24
    var i = 0
    while (i < 8) { r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1; i += 1 }
    r
  }

  private[graft] def oggCrc(bytes: Array[Byte], from: Int, len: Int): Int = {
    var r = 0
    var i = from
    val end = from + len
    while (i < end) {
      r = (r << 8) ^ OggCrcTable(((r >>> 24) ^ (bytes(i) & 0xff)) & 0xff)
      i += 1
    }
    r
  }

  /** Per-stream audit the Ogg walk extracts: page count, COMPLETED
    * packet count (lacing semantics), pages carrying a continuation
    * (spanning packets), total payload bytes, payload byte sum (pins
    * the payload offsets), a (seq+1)-weighted granule moment (pins the
    * 64-bit LE granule reads and page order), and the stream serial. */
  case class OggMeta(doc_id: Long, source: String, bytes: Long,
                     n_pages: Int, n_packets: Long, n_spanning: Int,
                     payload_bytes: Long, payload_sum: Long,
                     granule_moment: Long, serial: Long)

  /** The staged Ogg page model (pure doc_id arithmetic — see the oracle). */
  def oggPages(id: Long): Int = (1 + id % 4).toInt
  def oggSerial(id: Long): Long = (id * 7919) % 100000
  def oggGranule(id: Long, p: Int): Long = (id * 1000 + p * 137) % 100000
  def oggR1(id: Long, p: Int): Int = ((id + p * 17) % 255).toInt
  def oggR2(id: Long, p: Int): Int = (1 + (id * 3 + p * 29) % 254).toInt
  def oggR3(id: Long, p: Int): Int = ((id + p) % 200).toInt
  def oggOpen(id: Long, p: Int): Boolean = p % 2 == 1 && p < oggPages(id) - 1
  def oggClosing(id: Long, p: Int): Boolean = p >= 1 && oggOpen(id, p - 1)

  private def oggLacing(id: Long, p: Int): Array[Int] = {
    val head = if (oggClosing(id, p)) Array(oggR3(id, p)) else Array.emptyIntArray
    val tail = if (oggOpen(id, p)) Array(255) else Array.emptyIntArray
    head ++ Array(255, 255, oggR1(id, p), oggR2(id, p)) ++ tail
  }

  /** A COMPLETE Ogg stream for doc `id`: 1-4 pages with real CRCs,
    * varied lacing (exact-multiple terminators included when r1 = 0),
    * cross-page packets with the continuation flag, BOS/EOS, and
    * `junk` appended after the EOS page (ignored by a correct walk). */
  def oggFile(id: Long, junk: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val n = oggPages(id)
    for (p <- 0 until n) {
      val lace = oggLacing(id, p)
      val payloadLen = lace.sum
      val page = java.nio.ByteBuffer.allocate(27 + lace.length + payloadLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      page.put("OggS".getBytes("US-ASCII"))
      page.put(0.toByte) // version
      val flags = (if (oggClosing(id, p)) 1 else 0) |
        (if (p == 0) 2 else 0) | (if (p == n - 1) 4 else 0)
      page.put(flags.toByte)
      page.putLong(oggGranule(id, p))
      page.putInt(oggSerial(id).toInt)
      page.putInt(p)
      page.putInt(0) // CRC placeholder
      page.put(lace.length.toByte)
      lace.foreach(v => page.put(v.toByte))
      var i = 0
      while (i < payloadLen) {
        page.put((((id * 31 + p * 7 + i) % 251) & 0xff).toByte)
        i += 1
      }
      val arr = page.array()
      val crc = oggCrc(arr, 0, arr.length)
      arr(22) = (crc & 0xff).toByte
      arr(23) = ((crc >> 8) & 0xff).toByte
      arr(24) = ((crc >> 16) & 0xff).toByte
      arr(25) = ((crc >> 24) & 0xff).toByte
      out.write(arr)
    }
    out.toByteArray ++ junk
  }

  private[graft] case class OggFields(nPages: Int, nPackets: Long, nSpanning: Int,
      payloadBytes: Long, payloadSum: Long, granuleMoment: Long, serial: Long)

  private[graft] def decodeOggFields(media: Array[Byte]): Option[OggFields] = {
    if (media.length < 27 || media(0) != 'O' || media(1) != 'g' ||
        media(2) != 'g' || media(3) != 'S') return None
    def u32(at: Int): Long =
      (media(at) & 0xffL) | ((media(at + 1) & 0xffL) << 8) |
      ((media(at + 2) & 0xffL) << 16) | ((media(at + 3) & 0xffL) << 24)
    def u64(at: Int): Long = u32(at) | (u32(at + 4) << 32)
    var off = 0
    var page = 0
    var open = false // a packet left open by the previous page
    var serial = -1L
    var nPackets = 0L
    var nSpanning = 0
    var payloadBytes = 0L
    var payloadSum = 0L
    var granuleMoment = 0L
    var sawEos = false
    while (!sawEos) {
      if (off + 27 > media.length) return None // ran out before EOS
      if (media(off) != 'O' || media(off + 1) != 'g' ||
          media(off + 2) != 'g' || media(off + 3) != 'S') return None
      if (media(off + 4) != 0) return None // version
      val flags = media(off + 5) & 0xff
      val granule = u64(off + 6)
      val ser = u32(off + 14)
      val seq = u32(off + 18)
      val crcStored = u32(off + 22)
      val nseg = media(off + 26) & 0xff
      if (off + 27 + nseg > media.length) return None
      var lsum = 0
      var completed = 0L
      var endsOpen = false
      var i = 0
      while (i < nseg) {
        val v = media(off + 27 + i) & 0xff
        lsum += v
        if (v < 255) completed += 1
        endsOpen = v == 255
        i += 1
      }
      val total = 27 + nseg + lsum
      if (off + total > media.length) return None
      // CRC over the page with the checksum field zeroed: recompute by
      // splicing — prefix, four zero bytes, suffix.
      var crc = oggCrc(media, off, 22)
      val zero = new Array[Byte](4)
      crc = {
        var r = crc
        var j = 0
        while (j < 4) {
          r = (r << 8) ^ OggCrcTable(((r >>> 24) ^ (zero(j) & 0xff)) & 0xff); j += 1
        }
        r
      }
      crc = {
        var r = crc
        var j = off + 26
        val end = off + total
        while (j < end) {
          r = (r << 8) ^ OggCrcTable(((r >>> 24) ^ (media(j) & 0xff)) & 0xff); j += 1
        }
        r
      }
      if ((crc.toLong & 0xffffffffL) != crcStored) return None
      // Flag/lacing consistency, sequence and serial continuity.
      val cont = (flags & 1) != 0
      if (cont != open) return None
      if (page == 0 && (flags & 2) == 0) return None
      if (page > 0 && (flags & 2) != 0) return None
      if (seq != page.toLong) return None
      if (serial < 0) serial = ser else if (serial != ser) return None
      if (cont) nSpanning += 1
      nPackets += completed
      payloadBytes += lsum
      var b = off + 27 + nseg
      val end = off + total
      while (b < end) { payloadSum += (media(b) & 0xff); b += 1 }
      granuleMoment += (page + 1).toLong * granule
      open = endsOpen
      sawEos = (flags & 4) != 0
      if (sawEos && endsOpen) return None // EOS may not leave a packet open
      off += total
      page += 1
    }
    Some(OggFields(page, nPackets, nSpanning, payloadBytes, payloadSum,
      granuleMoment, serial))
  }

  // ----------------------- FLAC (STREAMINFO bit-packing + block walk)
  //
  // The TENTH container: FLAC, the lossless audio format archival music
  // and speech corpora ship in. Two traps no earlier gate covers:
  //   - STREAMINFO's packed bitfields: sample rate (20 bits), channels−1
  //     (3 bits), bits-per-sample−1 (5 bits) and total samples (36 bits
  //     — PAST u32, so ids staged above 2^32 samples fail any 32-bit
  //     read) share 8 bytes with no alignment.
  //   - The VORBIS_COMMENT block is LITTLE-endian INSIDE an otherwise
  //     big-endian container (24-bit BE block lengths, BE bitfields) —
  //     the dual of TIFF's declared-order trap.
  // The walk honors the is-last block flag (junk after the final block
  // quotes "fLaC") and requires STREAMINFO first, as the spec mandates.

  /** Staged FLAC value model (pure doc_id arithmetic). */
  def flacRate(id: Long): Int =
    Array(8000, 16000, 22050, 44100, 48000, 96000)((id % 6).toInt)
  def flacChannels(id: Long): Int = (1 + id % 8).toInt
  def flacBps(id: Long): Int = (8 + (id % 5) * 4).toInt
  def flacSamples(id: Long): Long =
    if (id % 4 == 0) 30000000000L + id * 1000 else id * 100000 + 12345
  def flacPad(id: Long): Int = (id % 50).toInt
  def flacArtist(id: Long): String = s"artist${id % 5}"
  def flacAudioMd5(id: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"flac-$id".getBytes("US-ASCII")).map("%02x".format(_)).mkString
  }

  /** Typed FLAC metadata the walk extracts. */
  case class FlacMeta(doc_id: Long, source: String, bytes: Long,
                      sample_rate: Int, channels: Int, bps: Int,
                      total_samples: Long, audio_md5: String,
                      n_blocks: Int, pad_len: Long, vendor: String,
                      artist: String)

  private[graft] case class FlacFields(rate: Int, channels: Int, bps: Int,
      samples: Long, md5Hex: String, nBlocks: Int, padLen: Long,
      vendor: String, artist: String)

  /** REAL FLAC metadata walk: magic, block headers (is-last flag + type
    * + 24-bit BE length), STREAMINFO required FIRST per spec with its
    * packed 20/3/5/36-bit fields, PADDING length accounted, and the
    * VORBIS_COMMENT block decoded with its LITTLE-endian lengths.
    * Truncation, a non-STREAMINFO first block, or a comment block
    * whose declared lengths overrun its own boundary refuse. */
  private[graft] def decodeFlacFields(media: Array[Byte]): Option[FlacFields] = {
    if (media.length < 8 || media(0) != 'f' || media(1) != 'L' ||
        media(2) != 'a' || media(3) != 'C') return None
    def u8(at: Int): Int = media(at) & 0xff
    def be24(at: Int): Int = (u8(at) << 16) | (u8(at + 1) << 8) | u8(at + 2)
    def le32(at: Int): Long =
      (media(at) & 0xffL) | ((media(at + 1) & 0xffL) << 8) |
      ((media(at + 2) & 0xffL) << 16) | ((media(at + 3) & 0xffL) << 24)
    var off = 4
    var first = true
    var last = false
    var nBlocks = 0
    var rate = -1; var ch = -1; var bps = -1
    var samples = -1L; var md5Hex = ""
    var padLen = 0L
    var vendor = ""; var artist = ""
    while (!last) {
      if (off + 4 > media.length) return None
      val hdr = u8(off)
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7f
      val blen = be24(off + 1)
      val data = off + 4
      if (data + blen > media.length) return None
      if (first && btype != 0) return None // STREAMINFO must be first
      btype match {
        case 0 =>
          if (blen != 34) return None
          // Packed fields start at data+10: rrrrrrrr rrrrrrrr rrrrccc
          // bbbbb(hi) then 36-bit total samples.
          val b10 = u8(data + 10); val b11 = u8(data + 11)
          val b12 = u8(data + 12); val b13 = u8(data + 13)
          rate = (b10 << 12) | (b11 << 4) | (b12 >> 4)
          ch = ((b12 >> 1) & 0x7) + 1
          bps = (((b12 & 0x1) << 4) | (b13 >> 4)) + 1
          samples = ((b13 & 0xfL) << 32) | ((u8(data + 14).toLong << 24) |
            (u8(data + 15).toLong << 16) | (u8(data + 16).toLong << 8) |
            u8(data + 17).toLong)
          md5Hex = (18 until 34)
            .map(i => f"${u8(data + i)}%02x").mkString
        case 1 => padLen += blen
        case 4 =>
          // Vorbis comment: LITTLE-endian lengths inside the BE container.
          // Lengths are validated as LONGS before any Int narrowing — a
          // declared length ≥ 2^31 must refuse (decode-is-the-filter),
          // not go negative and throw out of the task.
          var p = data
          def need(n: Long): Boolean = n >= 0 && p + n <= data + blen
          if (!need(4)) return None
          val vlenL = le32(p); p += 4
          if (!need(vlenL)) return None
          val vlen = vlenL.toInt
          vendor = new String(media, p, vlen, "UTF-8"); p += vlen
          if (!need(4)) return None
          val ncL = le32(p); p += 4
          if (ncL < 0 || ncL > blen) return None
          val nc = ncL.toInt
          var c = 0
          while (c < nc) {
            if (!need(4)) return None
            val clL = le32(p); p += 4
            if (!need(clL)) return None
            val cl = clL.toInt
            val kv = new String(media, p, cl, "UTF-8"); p += cl
            val eq = kv.indexOf('=')
            if (eq > 0 && kv.substring(0, eq).equalsIgnoreCase("ARTIST"))
              artist = kv.substring(eq + 1)
            c += 1
          }
        case _ => () // other block types: skip by declared length
      }
      nBlocks += 1
      first = false
      off = data + blen
    }
    if (rate <= 0 || ch <= 0) None
    else Some(FlacFields(rate, ch, bps, samples, md5Hex, nBlocks, padLen, vendor, artist))
  }

  /** A COMPLETE FLAC metadata section for doc `id`: STREAMINFO (packed
    * fields from the value model, audio md5 = md5("flac-id")), a
    * PADDING block, a VORBIS_COMMENT block (vendor + ARTIST/TITLE
    * comments, LE lengths) flagged as last, then `junk` (fake frame
    * data — quotes "fLaC"). */
  def flacFile(id: Long, junk: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    def blockHeader(last: Boolean, btype: Int, len: Int): Unit = {
      out.write((if (last) 0x80 else 0) | btype)
      out.write((len >> 16) & 0xff); out.write((len >> 8) & 0xff); out.write(len & 0xff)
    }
    // STREAMINFO
    blockHeader(last = false, 0, 34)
    val si = java.nio.ByteBuffer.allocate(34)
    si.putShort(4096).putShort(4096)           // min/max block size
    val minF = 1000 + (id % 300).toInt
    val maxF = 4000 + (id % 800).toInt
    si.put((minF >> 16).toByte).put((minF >> 8).toByte).put(minF.toByte)
    si.put((maxF >> 16).toByte).put((maxF >> 8).toByte).put(maxF.toByte)
    val rate = flacRate(id); val ch = flacChannels(id) - 1
    val bps = flacBps(id) - 1; val ns = flacSamples(id)
    si.put((rate >> 12).toByte)
    si.put(((rate >> 4) & 0xff).toByte)
    si.put((((rate & 0xf) << 4) | (ch << 1) | (bps >> 4)).toByte)
    si.put((((bps & 0xf) << 4) | ((ns >> 32) & 0xf).toInt).toByte)
    si.put(((ns >> 24) & 0xff).toByte).put(((ns >> 16) & 0xff).toByte)
    si.put(((ns >> 8) & 0xff).toByte).put((ns & 0xff).toByte)
    si.put(java.security.MessageDigest.getInstance("MD5")
      .digest(s"flac-$id".getBytes("US-ASCII")))
    out.write(si.array())
    // PADDING
    blockHeader(last = false, 1, flacPad(id))
    out.write(new Array[Byte](flacPad(id)))
    // VORBIS_COMMENT (little-endian lengths), flagged LAST
    val vendor = "graft-flac 1.0".getBytes("UTF-8")
    val comments = Seq(s"ARTIST=${flacArtist(id)}", s"TITLE=t${id % 7}")
      .map(_.getBytes("UTF-8"))
    val vcLen = 4 + vendor.length + 4 + comments.map(4 + _.length).sum
    blockHeader(last = true, 4, vcLen)
    def le32w(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    le32w(vendor.length); out.write(vendor)
    le32w(comments.length)
    comments.foreach { c => le32w(c.length); out.write(c) }
    out.toByteArray ++ junk
  }

  /** Mixed corpus for the FLAC gate: ids % 3 == 0 staged as FLAC
    * metadata sections (junk after the last block quotes "fLaC");
    * everything else bare text. */
  def flacTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 3 == 0) flacFile(id, "fLaC decoy".getBytes("US-ASCII") ++ payload)
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  def decodedFlac(s: SparkSession, dir: String): DataFrame =
    decodedFlacOf(s, flacTableStaged(s, dir))

  def decodedFlacOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeFlacFields(r.media).map(f =>
          FlacMeta(r.doc_id, r.source, r.media.length.toLong, f.rate,
            f.channels, f.bps, f.samples, f.md5Hex, f.nBlocks, f.padLen,
            f.vendor, f.artist))
      })
      .toDF()
  }

  // ----------------------- FLAC frame decode (subframes + Rice residuals)
  //
  // The audio dual of the PNG/GIF/JPEG pixel gates: FLAC is LOSSLESS and
  // bit-exact BY SPEC — constant/verbatim/fixed/LPC subframes and Rice
  // residuals are pure integer arithmetic, so a correct decoder owes the
  // oracle exact sample values, not an approximation. The decode covers
  // the full public frame format (FLAC format spec / RFC 9639):
  //   - frame header: 14-bit sync, blocking strategy, block-size and
  //     sample-rate codes, channel assignment (independent + the three
  //     STEREO DECORRELATION modes left/side, right/side, mid/side —
  //     side channels carry ONE EXTRA bit per sample), UTF-8-coded
  //     frame/sample number (multi-byte past 127 — exercised by the
  //     variable-blocksize files' third frame at sample 128), CRC-8;
  //   - subframes: constant, verbatim, fixed predictors order 0-4, LPC
  //     up to order 32 with quantized coefficients and arithmetic
  //     right-shift, wasted-bits shift;
  //   - residuals: 4-bit (and 5-bit RICE2) Rice parameters over 2^po
  //     partitions, zigzag mapping, and the raw-bits ESCAPE code;
  //   - CRC-16 over the whole frame; both CRCs VERIFIED (a flipped bit
  //     anywhere refuses the file — decode-is-the-filter).
  // The staged fixture encodes a closed-form sample model through a
  // purpose-built exact encoder; STREAMINFO's audio MD5 is recomputed
  // from the DECODED samples, pinning the whole chain end to end.

  val FlacPcmFrames = 3
  val FlacPcmBlock = 64
  val FlacPcmBps = 16

  /** Closed-form PCM model for FLAC staging: sample n (0..63) of frame f
    * (0..2), LOGICAL channel c (0=L, 1=R) of doc `id`. The case on
    * t = (id+f+c) % 5 varies the signal shape so every subframe type
    * the encoder picks (constant, verbatim+wasted-bits, low-order and
    * high-order fixed, LPC) actually occurs. All arithmetic on
    * non-negative operands — Spark and DuckDB agree. */
  def flacPcmSample(id: Long, f: Int, c: Int, n: Int): Int = {
    val t = ((id + f + c) % 5).toInt
    (t match {
      case 0 => ((id * 7 + f * 3 + c * 11) % 4001) - 2000
      case 1 => 2 * (((id * 5 + f * 13 + c * 7 + n * 31) % 16000) - 8000)
      case 2 => ((id * 11 + f * 17 + c * 23 + n * n * 3) % 2001) - 1000
      case 3 => ((id + c) % 500) + n * 2 + ((n + f) % 3)
      case _ => ((id * 13 + f * 7 + c * 3) % 800) + n * (2 + id % 3) + (n % 2)
    }).toInt
  }

  /** Number of logical channels of doc `id`'s staged FLAC PCM file. */
  def flacPcmChannels(id: Long): Int = (1 + id % 2).toInt

  // CRC-8 poly 0x07 and CRC-16 poly 0x8005, both init 0 — the FLAC spec
  // polynomials.
  private[graft] def flacCrc8(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= bytes(i) & 0xff
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        b += 1
      }
      i += 1
    }
    crc
  }

  private[graft] def flacCrc16(bytes: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (bytes(i) & 0xff) << 8
      var b = 0
      while (b < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        b += 1
      }
      i += 1
    }
    crc
  }

  private final class FlacBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nb = 0
    def writeBits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1L).toInt
        nb += 1
        if (nb == 8) { out.write(acc); acc = 0; nb = 0 }
        i -= 1
      }
    }
    def writeSigned(v: Int, n: Int): Unit = writeBits(v.toLong & ((1L << n) - 1), n)
    def writeUnary(q: Int): Unit = { writeBits(0L, q); writeBits(1L, 1) }
    def align(): Unit = if (nb != 0) writeBits(0L, 8 - nb)
    def bytes: Array[Byte] = { require(nb == 0); out.toByteArray }
  }

  private final class FlacBitReader(bytes: Array[Byte], start: Int) {
    private var pos = start
    private var bit = 0
    var failed = false
    def bytePos: Int = pos
    def aligned: Boolean = bit == 0
    def readBits(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        if (pos >= bytes.length) { failed = true; return 0L }
        v = (v << 1) | ((bytes(pos) >> (7 - bit)) & 1).toLong
        bit += 1
        if (bit == 8) { bit = 0; pos += 1 }
        i += 1
      }
      v
    }
    def readSigned(n: Int): Int = {
      val v = readBits(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) (v - (1L << n)).toInt else v.toInt
    }
    def readUnary(): Int = {
      var q = 0
      while (!failed && readBits(1) == 0L) {
        q += 1
        if (q > (bytes.length - start) * 8) { failed = true; return 0 }
      }
      q
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  /** FLAC UTF-8-style coded number (the frame/sample number coding —
    * standard UTF-8 extended to 36-bit values). */
  private def flacUtf8Encode(w: FlacBitWriter, v: Long): Unit = {
    if (v < 0x80) w.writeBits(v, 8)
    else {
      // cont continuation bytes carry 6 bits each; the lead byte
      // (cont+1 ones, a zero) carries the remaining 6−cont high bits.
      var cont = 1
      while (v >= (1L << (6 + 5 * cont))) cont += 1
      w.writeBits(((0xffL << (7 - cont)) & 0xff) | (v >> (6 * cont)), 8)
      var i = cont - 1
      while (i >= 0) {
        w.writeBits(0x80L | ((v >> (i * 6)) & 0x3f), 8)
        i -= 1
      }
    }
  }

  private def flacUtf8Decode(r: FlacBitReader): Long = {
    val b0 = r.readBits(8).toInt
    if ((b0 & 0x80) == 0) b0.toLong
    else {
      var cont = 0
      var mask = 0x40
      while ((b0 & mask) != 0 && cont < 7) { cont += 1; mask >>= 1 }
      if (cont < 1 || cont > 6) { r.failed = true; return -1L }
      var v = (b0 & (mask - 1)).toLong
      var i = 0
      while (i < cont) {
        val b = r.readBits(8).toInt
        if ((b & 0xc0) != 0x80) { r.failed = true; return -1L }
        v = (v << 6) | (b & 0x3f)
        i += 1
      }
      v
    }
  }

  private def signedBitsNeeded(v: Int): Int = {
    var b = 1
    while (!(v >= -(1 << (b - 1)) && v < (1 << (b - 1)))) b += 1
    b
  }

  /** Encode one channel's residual section (Rice method 00, partition
    * order `po`), escaping every partition to raw bits when `escape`. */
  private def writeResiduals(w: FlacBitWriter, res: Array[Int], blockSize: Int,
                             predOrder: Int, po: Int, escape: Boolean): Unit = {
    w.writeBits(0L, 2) // coding method: 4-bit Rice
    w.writeBits(po.toLong, 4)
    val nPart = 1 << po
    var p = 0
    var idx = 0
    while (p < nPart) {
      val cnt = (blockSize >> po) - (if (p == 0) predOrder else 0)
      if (escape) {
        var bits = 1
        var i = 0
        while (i < cnt) { bits = math.max(bits, signedBitsNeeded(res(idx + i))); i += 1 }
        w.writeBits(0xfL, 4) // escape code
        w.writeBits(bits.toLong, 5)
        i = 0
        while (i < cnt) { w.writeSigned(res(idx + i), bits); i += 1 }
      } else {
        // zigzag, then a parameter that keeps quotients short
        var maxU = 0L
        var i = 0
        while (i < cnt) {
          val r = res(idx + i)
          val u = if (r >= 0) r.toLong << 1 else ((-r).toLong << 1) - 1
          if (u > maxU) maxU = u
          i += 1
        }
        var param = 0
        while (param < 14 && (maxU >> param) > 15) param += 1
        w.writeBits(param.toLong, 4)
        i = 0
        while (i < cnt) {
          val r = res(idx + i)
          val u = if (r >= 0) r.toLong << 1 else ((-r).toLong << 1) - 1
          w.writeUnary((u >> param).toInt)
          w.writeBits(u & ((1L << param) - 1), param)
          i += 1
        }
      }
      idx += cnt
      p += 1
    }
  }

  /** Encode one subframe for `samples` at `bps` bits. Type choice:
    * constant when all samples are equal; otherwise verbatim / fixed-1 /
    * fixed-3 / LPC-2 by `hint` % 4. `wastedOk` allows a 1-bit
    * wasted-bits shift when every sample is even; `escape` forces raw
    * residual partitions. */
  private def writeSubframe(w: FlacBitWriter, samples: Array[Int], bps: Int,
                            hint: Int, wastedOk: Boolean, escape: Boolean): Unit = {
    val allEq = samples.forall(_ == samples(0))
    val kind = if (allEq) -1 else math.floorMod(hint, 4)
    val wasted =
      if (!allEq && kind == 0 && wastedOk && samples.forall(s => (s & 1) == 0)) 1 else 0
    val arr = if (wasted > 0) samples.map(_ >> wasted) else samples
    val ebps = bps - wasted
    w.writeBits(0L, 1) // reserved
    val typeCode = kind match {
      case -1 => 0x00 // constant
      case 0  => 0x01 // verbatim
      case 1  => 0x08 | 1 // fixed order 1
      case 2  => 0x08 | 3 // fixed order 3
      case _  => 0x20 | (2 - 1) // LPC order 2
    }
    w.writeBits(typeCode.toLong, 6)
    if (wasted > 0) { w.writeBits(1L, 1); w.writeUnary(wasted - 1) }
    else w.writeBits(0L, 1)
    kind match {
      case -1 => w.writeSigned(arr(0), ebps)
      case 0 => arr.foreach(s => w.writeSigned(s, ebps))
      case 1 | 2 =>
        val order = if (kind == 1) 1 else 3
        var i = 0
        while (i < order) { w.writeSigned(arr(i), ebps); i += 1 }
        val res = new Array[Int](arr.length - order)
        i = order
        while (i < arr.length) {
          val pred = order match {
            case 1 => arr(i - 1)
            case 3 => 3 * arr(i - 1) - 3 * arr(i - 2) + arr(i - 3)
            case _ => 0
          }
          res(i - order) = arr(i) - pred
          i += 1
        }
        writeResiduals(w, res, arr.length, order, 1, escape)
      case _ =>
        // LPC order 2, precision 4, shift 1, coeffs [3, -1]:
        // pred = (3·s[n-1] − s[n-2]) >> 1 — arithmetic shift.
        val order = 2; val prec = 4; val shift = 1
        val c1 = 3; val c2 = -1
        var i = 0
        while (i < order) { w.writeSigned(arr(i), ebps); i += 1 }
        w.writeBits((prec - 1).toLong, 4)
        w.writeBits(shift.toLong, 5)
        w.writeSigned(c1, prec)
        w.writeSigned(c2, prec)
        val res = new Array[Int](arr.length - order)
        i = order
        while (i < arr.length) {
          val pred = (c1 * arr(i - 1) + c2 * arr(i - 2)) >> shift
          res(i - order) = arr(i) - pred
          i += 1
        }
        writeResiduals(w, res, arr.length, order, 1, escape)
    }
  }

  /** One complete staged FLAC file for doc `id`: STREAMINFO (audio MD5
    * computed over the model PCM) + [[FlacPcmFrames]] real frames of
    * [[FlacPcmBlock]] samples. Odd ids use the variable-blocksize
    * strategy (frame 2's coded SAMPLE number 128 exercises multi-byte
    * UTF-8); stereo frames rotate through the four channel assignments
    * by (id + f) % 4; id % 7 == 0 escapes every residual partition;
    * id % 8 == 3 allows wasted-bits. */
  def flacPcmFile(id: Long): Array[Byte] = {
    val nch = flacPcmChannels(id)
    val variable = id % 2 == 1
    // PCM for the MD5: frame order, interleaved channels, 16-bit LE.
    val md = java.security.MessageDigest.getInstance("MD5")
    for (f <- 0 until FlacPcmFrames; n <- 0 until FlacPcmBlock; c <- 0 until nch) {
      val s = flacPcmSample(id, f, c, n)
      md.update((s & 0xff).toByte); md.update(((s >> 8) & 0xff).toByte)
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO, flagged last (no other metadata blocks).
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    val si = java.nio.ByteBuffer.allocate(34)
    val minBlk = if (variable) 32 else FlacPcmBlock
    si.putShort(minBlk.toShort).putShort(FlacPcmBlock.toShort)
    si.put(Array[Byte](0, 0, 0)).put(Array[Byte](0, 0, 0)) // frame sizes unknown
    val rate = flacRate(id)
    val total = (FlacPcmFrames * FlacPcmBlock).toLong
    si.put((rate >> 12).toByte)
    si.put(((rate >> 4) & 0xff).toByte)
    si.put((((rate & 0xf) << 4) | ((nch - 1) << 1) | ((FlacPcmBps - 1) >> 4)).toByte)
    si.put(((((FlacPcmBps - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte)
    si.put(((total >> 24) & 0xff).toByte).put(((total >> 16) & 0xff).toByte)
    si.put(((total >> 8) & 0xff).toByte).put((total & 0xff).toByte)
    si.put(md.digest())
    out.write(si.array())
    for (f <- 0 until FlacPcmFrames) {
      val left = Array.tabulate(FlacPcmBlock)(n => flacPcmSample(id, f, 0, n))
      val right =
        if (nch == 2) Array.tabulate(FlacPcmBlock)(n => flacPcmSample(id, f, 1, n))
        else null
      val mode = if (nch == 2) ((id + f) % 4).toInt else 0
      val (chAssign, phys, physBps) =
        if (nch == 1) (0, Array(left), Array(FlacPcmBps))
        else mode match {
          case 0 => (1, Array(left, right), Array(FlacPcmBps, FlacPcmBps))
          case 1 => (8, Array(left, Array.tabulate(FlacPcmBlock)(n => left(n) - right(n))),
                     Array(FlacPcmBps, FlacPcmBps + 1)) // left/side
          case 2 => (9, Array(Array.tabulate(FlacPcmBlock)(n => left(n) - right(n)), right),
                     Array(FlacPcmBps + 1, FlacPcmBps)) // right/side
          case _ => (10, Array(Array.tabulate(FlacPcmBlock)(n => (left(n) + right(n)) >> 1),
                               Array.tabulate(FlacPcmBlock)(n => left(n) - right(n))),
                     Array(FlacPcmBps, FlacPcmBps + 1)) // mid/side
        }
      val w = new FlacBitWriter
      w.writeBits(0x3ffeL, 14)
      w.writeBits(0L, 1)
      w.writeBits(if (variable) 1L else 0L, 1)
      w.writeBits(6L, 4) // block size: 8-bit value-1 follows the number
      w.writeBits(0L, 4) // sample rate: from STREAMINFO
      w.writeBits(chAssign.toLong, 4)
      w.writeBits(4L, 3) // sample size: 16-bit
      w.writeBits(0L, 1)
      flacUtf8Encode(w, if (variable) f.toLong * FlacPcmBlock else f.toLong)
      w.writeBits((FlacPcmBlock - 1).toLong, 8)
      val headBytes = w.bytes
      w.writeBits(flacCrc8(headBytes, 0, headBytes.length).toLong, 8)
      for (c <- phys.indices)
        writeSubframe(w, phys(c), physBps(c), (id + f + c).toInt,
          wastedOk = id % 8 == 3, escape = id % 7 == 0)
      w.align()
      val frameBytes = w.bytes
      w.writeBits(flacCrc16(frameBytes, 0, frameBytes.length).toLong, 16)
      val full = w.bytes
      out.write(full, 0, full.length)
    }
    out.toByteArray
  }

  /** Decoded FLAC stream: per-channel interleaved samples in frame
    * order, plus the md5-chain verdict (STREAMINFO audio MD5 vs the MD5
    * of the DECODED PCM). */
  private[graft] case class FlacPcm(channels: Int, samples: Array[Array[Int]],
                                    nFrames: Int, md5Ok: Boolean)

  /** Decode one residual section into `res` (already holding the
    * warm-ups at [0, predOrder)); returns false on malformed coding. */
  private def readResiduals(r: FlacBitReader, res: Array[Int], blockSize: Int,
                            predOrder: Int): Boolean = {
    val method = r.readBits(2).toInt
    if (method > 1) return false // 00 Rice4, 01 Rice5(RICE2); 1x reserved
    val pBits = if (method == 0) 4 else 5
    val escCode = (1 << pBits) - 1
    val po = r.readBits(4).toInt
    if ((blockSize & ((1 << po) - 1)) != 0) return false
    var idx = predOrder
    var p = 0
    while (p < (1 << po)) {
      val cnt = (blockSize >> po) - (if (p == 0) predOrder else 0)
      if (cnt < 0) return false
      val param = r.readBits(pBits).toInt
      if (param == escCode) {
        val bits = r.readBits(5).toInt
        var i = 0
        while (i < cnt) { res(idx) = r.readSigned(bits); idx += 1; i += 1 }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.readUnary().toLong
          val u = (q << param) | r.readBits(param)
          res(idx) = (if ((u & 1L) == 0L) u >> 1 else -((u + 1L) >> 1)).toInt
          idx += 1
          i += 1
        }
      }
      if (r.failed) return false
      p += 1
    }
    true
  }

  /** Decode one subframe of `blockSize` samples at `bps` bits. Returns
    * the reconstructed (wasted-bits-restored) samples or None. */
  private def readSubframe(r: FlacBitReader, blockSize: Int, bps: Int): Option[Array[Int]] = {
    if (r.readBits(1) != 0L) return None // reserved bit must be 0
    val typeCode = r.readBits(6).toInt
    val wasted = if (r.readBits(1) == 1L) r.readUnary() + 1 else 0
    if (r.failed || wasted >= bps) return None
    val ebps = bps - wasted
    val out = new Array[Int](blockSize)
    val ok: Boolean = typeCode match {
      case 0x00 =>
        val v = r.readSigned(ebps)
        java.util.Arrays.fill(out, v); !r.failed
      case 0x01 =>
        var i = 0
        while (i < blockSize) { out(i) = r.readSigned(ebps); i += 1 }
        !r.failed
      case t if (t & 0x38) == 0x08 && (t & 0x07) <= 4 =>
        val order = t & 0x07
        if (order > blockSize) return None
        var i = 0
        while (i < order) { out(i) = r.readSigned(ebps); i += 1 }
        if (!readResiduals(r, out, blockSize, order)) return None
        // Fixed predictors 0-4 (the spec's binomial coefficients).
        i = order
        while (i < blockSize) {
          val pred = order match {
            case 0 => 0
            case 1 => out(i - 1)
            case 2 => 2 * out(i - 1) - out(i - 2)
            case 3 => 3 * out(i - 1) - 3 * out(i - 2) + out(i - 3)
            case _ => 4 * out(i - 1) - 6 * out(i - 2) + 4 * out(i - 3) - out(i - 4)
          }
          out(i) = out(i) + pred
          i += 1
        }
        true
      case t if (t & 0x20) == 0x20 =>
        val order = (t & 0x1f) + 1
        if (order > blockSize) return None
        var i = 0
        while (i < order) { out(i) = r.readSigned(ebps); i += 1 }
        val prec = r.readBits(4).toInt + 1
        if (prec > 15) return None // 0b1111 is invalid per spec
        val shift = r.readSigned(5)
        if (shift < 0) return None
        val coefs = new Array[Int](order)
        i = 0
        while (i < order) { coefs(i) = r.readSigned(prec); i += 1 }
        if (!readResiduals(r, out, blockSize, order)) return None
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coefs(j).toLong * out(i - 1 - j); j += 1 }
          out(i) = out(i) + (acc >> shift).toInt
          i += 1
        }
        true
      case _ => false
    }
    if (!ok || r.failed) None
    else if (wasted > 0) Some(out.map(_ << wasted))
    else Some(out)
  }

  /** REAL FLAC sample decode: STREAMINFO walk, then every frame —
    * header (sync, strategy, block-size/rate codes, channel assignment,
    * UTF-8 coded number, CRC-8), per-channel subframes, byte alignment,
    * CRC-16 — reconstructing the stereo decorrelation exactly. Both
    * CRCs verified; any malformed structure, a sample count that
    * disagrees with STREAMINFO, or trailing bytes refuse the file. */
  private[graft] def decodeFlacPcm(media: Array[Byte]): Option[FlacPcm] = {
    if (media.length < 42 || media(0) != 'f' || media(1) != 'L' ||
        media(2) != 'a' || media(3) != 'C') return None
    def u8(at: Int): Int = media(at) & 0xff
    // Metadata walk: collect STREAMINFO, skip the rest by length.
    var off = 4
    var last = false
    var first = true
    var rate = -1; var nch = -1; var bps = -1; var total = -1L
    var md5Hex = ""
    while (!last) {
      if (off + 4 > media.length) return None
      last = (u8(off) & 0x80) != 0
      val btype = u8(off) & 0x7f
      val blen = (u8(off + 1) << 16) | (u8(off + 2) << 8) | u8(off + 3)
      val data = off + 4
      if (data + blen > media.length) return None
      if (first && btype != 0) return None
      if (btype == 0) {
        if (blen != 34) return None
        val b12 = u8(data + 12); val b13 = u8(data + 13)
        rate = (u8(data + 10) << 12) | (u8(data + 11) << 4) | (b12 >> 4)
        nch = ((b12 >> 1) & 0x7) + 1
        bps = (((b12 & 0x1) << 4) | (b13 >> 4)) + 1
        total = ((b13 & 0xfL) << 32) | (u8(data + 14).toLong << 24) |
          (u8(data + 15).toLong << 16) | (u8(data + 16).toLong << 8) |
          u8(data + 17).toLong
        md5Hex = (18 until 34).map(i => f"${u8(data + i)}%02x").mkString
      }
      first = false
      off = data + blen
    }
    if (rate <= 0 || nch <= 0 || total <= 0 || total > 100000000L) return None
    val chans = Array.fill(nch)(new scala.collection.mutable.ArrayBuffer[Int](total.toInt))
    var decoded = 0L
    var nFrames = 0
    while (decoded < total) {
      val frameStart = off
      val r = new FlacBitReader(media, off)
      if (r.readBits(14) != 0x3ffeL || r.readBits(1) != 0L) return None
      val variable = r.readBits(1) == 1L
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      val chAssign = r.readBits(4).toInt
      val ssCode = r.readBits(3).toInt
      if (r.readBits(1) != 0L) return None
      val num = flacUtf8Decode(r)
      if (r.failed || num < 0) return None
      // Expected position pin: variable strategy codes the SAMPLE
      // number, fixed codes the FRAME number.
      if (variable && num != decoded) return None
      val blockSize = bsCode match {
        case 0 => return None // reserved
        case 1 => 192
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case 6 => r.readBits(8).toInt + 1
        case 7 => r.readBits(16).toInt + 1
        case c => 256 << (c - 8)
      }
      if (!variable && num != nFrames.toLong) return None
      srCode match {
        case 0 => () // from STREAMINFO
        case 12 => r.readBits(8); ()
        case 13 | 14 => r.readBits(16); ()
        case 15 => return None
        case _ => () // table codes carry no extra bytes
      }
      val frameBps = ssCode match {
        case 0 => bps
        case 1 => 8
        case 2 => 12
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
        case _ => return None
      }
      if (!r.aligned) return None // header is byte-aligned pre-CRC by construction
      val crc8At = r.bytePos
      val gotCrc8 = r.readBits(8).toInt
      if (flacCrc8(media, frameStart, crc8At) != gotCrc8) return None
      val nPhys = if (chAssign <= 7) chAssign + 1 else 2
      if (chAssign <= 7 && nPhys != nch) return None
      if (chAssign > 10) return None
      if (chAssign > 7 && nch != 2) return None
      val phys = new Array[Array[Int]](nPhys)
      var c = 0
      while (c < nPhys) {
        val extra = chAssign match {
          case 8 => if (c == 1) 1 else 0  // left/side
          case 9 => if (c == 0) 1 else 0  // right/side
          case 10 => if (c == 1) 1 else 0 // mid/side
          case _ => 0
        }
        phys(c) = readSubframe(r, blockSize, frameBps + extra).getOrElse(return None)
        c += 1
      }
      r.align()
      val crc16At = r.bytePos
      val gotCrc16 = r.readBits(16).toInt
      if (r.failed) return None
      if (flacCrc16(media, frameStart, crc16At) != gotCrc16) return None
      // Undo stereo decorrelation.
      val (l, rr) = chAssign match {
        case 8 => (phys(0), Array.tabulate(blockSize)(i => phys(0)(i) - phys(1)(i)))
        case 9 => (Array.tabulate(blockSize)(i => phys(0)(i) + phys(1)(i)), phys(1))
        case 10 => (null, null)
        case _ => (null, null)
      }
      if (chAssign == 10) {
        var i = 0
        while (i < blockSize) {
          val mid2 = (phys(0)(i) << 1) | (phys(1)(i) & 1)
          chans(0) += (mid2 + phys(1)(i)) >> 1
          chans(1) += (mid2 - phys(1)(i)) >> 1
          i += 1
        }
      } else if (chAssign > 7) {
        chans(0) ++= l; chans(1) ++= rr
      } else {
        var cc = 0
        while (cc < nch) { chans(cc) ++= phys(cc); cc += 1 }
      }
      decoded += blockSize
      nFrames += 1
      off = r.bytePos
    }
    if (decoded != total || off != media.length) return None
    // Audio-MD5 chain: recompute over the decoded PCM (frame-order
    // interleaved, bps/8 little-endian bytes — 16-bit here).
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < total.toInt) {
      var c = 0
      while (c < nch) {
        val s = chans(c)(i)
        md.update((s & 0xff).toByte); md.update(((s >> 8) & 0xff).toByte)
        c += 1
      }
      i += 1
    }
    val gotMd5 = md.digest().map("%02x".format(_)).mkString
    Some(FlacPcm(nch, chans.map(_.toArray), nFrames, gotMd5 == md5Hex))
  }

  /** Per-file FLAC sample statistics the decode pass emits. */
  case class FlacPcmStats(doc_id: Long, source: String, channels: Int,
                          n_frames: Int, n_samples: Long, md5_ok: Int,
                          sum_abs: Long, sum_sq: Long, max_s: Int,
                          min_s: Int, moment: Long)

  /** Mixed corpus for the FLAC PCM gate: ids % 3 == 0 staged as complete
    * FLAC files with real frames; everything else bare text (refused by
    * the decode — decode-is-the-filter). */
  def flacPcmTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val media =
          if (id % 3 == 0) flacPcmFile(id)
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        MediaRow(id, src, media)
      })
      .toDF()
  }

  def decodedFlacPcm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    flacPcmTableStaged(s, dir).as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeFlacPcm(r.media).map { p =>
          var sumAbs = 0L; var sumSq = 0L; var mom = 0L
          var maxS = Int.MinValue; var minS = Int.MaxValue
          var n = 0L
          var c = 0
          while (c < p.channels) {
            val arr = p.samples(c)
            var j = 0
            while (j < arr.length) {
              val v = arr(j)
              sumAbs += math.abs(v).toLong
              sumSq += v.toLong * v
              mom += (c + 1).toLong * (j + 1) * v
              if (v > maxS) maxS = v
              if (v < minS) minS = v
              n += 1
              j += 1
            }
            c += 1
          }
          FlacPcmStats(r.doc_id, r.source, p.channels, p.nFrames, n,
            if (p.md5Ok) 1 else 0, sumAbs, sumSq, maxS, minS, mom)
        }
      })
      .toDF()
  }
  def oggTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, src, text) =>
        val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val media =
          if (id % 3 == 2) oggFile(id, "OggS decoy".getBytes("US-ASCII") ++ payload)
          else payload
        MediaRow(id, src, media)
      })
      .toDF()
  }

  /** Ogg decode pass: the walk is the filter, as every gate. */
  def decodedOgg(s: SparkSession, dir: String): DataFrame =
    decodedOggOf(s, oggTableStaged(s, dir))

  def decodedOggOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeOggFields(r.media).map(f =>
          OggMeta(r.doc_id, r.source, r.media.length.toLong, f.nPages,
            f.nPackets, f.nSpanning, f.payloadBytes, f.payloadSum,
            f.granuleMoment, f.serial))
      })
      .toDF()
  }

  // ─────────── perceptual-hash (aHash) near-dup fixture (round 16) ───────────
  // IMAGE near-duplicate detection — the visual twin of simhash over text:
  // decode → 8×8-block average hash (64 bits) → banded candidate join →
  // Hamming verify. The staged corpus is built for the gate: doc ids group
  // into FAMILIES of four (fam = id/4); variant v = id%4 perturbs v blocks
  // of the family's base mosaic, so within-family aHash distances are small
  // (near-dups by construction) while cross-family mosaics differ in ~half
  // the bits. Every pixel value is closed-form doc_id arithmetic the DuckDB
  // oracle replays block-exactly — Spark re-derives the hash by PARSING the
  // BMP bytes (stride, bottom-up rows, B,G,R) and averaging real pixels.

  /** Gray base of block `bi` (row-major in the 8×8 grid) of family `fam`:
    * a value in [23, 222], varying with both inputs so cross-family
    * mosaics decorrelate. */
  def ahashBlockBase(fam: Long, bi: Int): Int =
    (((fam * 37 + bi * 11L + (bi * bi) % 7) % 200) + 23).toInt

  /** Perturbation of block `bi` for doc `id`: variant v = id%4 shifts the
    * v blocks (fam + 17k) % 64, k = 1..v, by ±90 toward the far side of
    * the dynamic range — far enough that the shifted block crosses the
    * global mean (≈122) from almost anywhere in [23, 222], so each
    * perturbed block flips its hash bit and within-family hamming ≈ v
    * (measured over all sf0.1 families: avg 2.0, max 7 — inside the ≤ 8
    * verify; cross-family ≈ 32). 17·k mod 64 is injective for k ≤ 3, so
    * the perturbed blocks are distinct. The base pattern's fam-period of
    * 200 additionally plants EXACT-duplicate mosaics at family distance
    * 200 — real corpus duplicates the gate must also surface. */
  def ahashDelta(id: Long, bi: Int): Int = {
    val fam = id / 4
    val v = (id % 4).toInt
    var d = 0
    var k = 1
    while (k <= v) {
      if (bi == ((fam + 17L * k) % 64).toInt)
        d += (if (ahashBlockBase(fam, bi) < 128) 90 else -90)
      k += 1
    }
    d
  }

  /** The staged gray value of pixel (x, y) of doc `id` (64×64 image, all
    * three channels equal): block base + variant perturbation + a ±3
    * column-parity ripple that cancels EXACTLY over every 8-wide block —
    * the block means stay closed-form while a decoder that mis-walks
    * pixels still breaks the moment. Range [20, 225]. */
  def ahashPxValue(id: Long, x: Int, y: Int): Int = {
    val bi = (y / 8) * 8 + (x / 8)
    ahashBlockBase(id / 4, bi) + ahashDelta(id, bi) + (if (x % 2 == 0) 3 else -3)
  }

  /** A COMPLETE 64×64 uncompressed 24-bit BMP for doc `id` under the
    * aHash mosaic model — same layout discipline as [[pixelBmp]]
    * (bottom-up rows, B,G,R bytes; 64·3 = 192 is already 4-aligned so no
    * stride padding exists at this width). */
  def ahashBmp(id: Long): Array[Byte] = gray64Bmp((x, y) => ahashPxValue(id, x, y))

  /** A COMPLETE 64×64 gray 24-bit BMP from a pixel-value model — the ONE
    * builder all four hash fixtures share, so the layout discipline
    * (bottom-up rows at `(h-1-y)*stride`, B=G=R gray triplets) lives in
    * exactly one place: a stride/orientation fix cannot desynchronize a
    * staged fixture from its oracle's value model. */
  private def gray64Bmp(pxValue: (Int, Int) => Int): Array[Byte] = {
    val w = 64; val h = 64
    val stride = w * 3
    val px = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val base = (h - 1 - y) * stride
      var x = 0
      while (x < w) {
        val v = pxValue(x, y).toByte
        px(base + x * 3) = v; px(base + x * 3 + 1) = v; px(base + x * 3 + 2) = v
        x += 1
      }
      y += 1
    }
    bmpHeader(w, h, px.length) ++ px
  }

  /** aHash-staged media table: one mosaic BMP per document. Built
    * in-memory per pass like [[mediaTableStaged]] — the oracle replays
    * the value model, never these bytes. */
  def ahashTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) => MediaRow(id, src, ahashBmp(id)) })
      .toDF()
  }

  // ───────── aHash incremental-ingest batch (mm_ahash_incremental) ─────────
  // The image twin of dedup_incremental_neardup's constructed batch,
  // both directions exercised:
  //   doc_id%10 == 7 → the corpus mosaic with ONE extra ±90 block edit
  //     on block (fam+4)%64 (disjoint from the variant blocks
  //     (fam+17k)%64, k ≤ 3, since 68 ≡ 4 mod 64) — a lightly-edited
  //     re-submission the hamming ≤ 8 gate must FLAG;
  //   doc_id%10 == 4 → a fresh mosaic whose base pattern is the
  //     TRANSPOSED block layout (base(fam, (bi%8)·8 + bi/8), no variant
  //     deltas) — structurally different content that must PASS.

  /** Batch gray value of pixel (x, y) for arriving doc `id` (same 64×64
    * mosaic discipline and ±3 column-parity ripple as ahashPxValue). */
  def ahashBatchPxValue(id: Long, x: Int, y: Int): Int = {
    val bi = (y / 8) * 8 + (x / 8)
    val fam = id / 4
    val ripple = if (x % 2 == 0) 3 else -3
    if (id % 10 == 7) {
      val extra =
        if (bi == ((fam + 4) % 64).toInt)
          (if (ahashBlockBase(fam, bi) < 128) 90 else -90)
        else 0
      ahashBlockBase(fam, bi) + ahashDelta(id, bi) + extra + ripple
    } else {
      val bt = (bi % 8) * 8 + bi / 8
      ahashBlockBase(fam, bt) + ripple
    }
  }

  /** Arriving-batch BMP for doc `id` under the batch value model. */
  def ahashBatchBmp(id: Long): Array[Byte] =
    gray64Bmp((x, y) => ahashBatchPxValue(id, x, y))

  /** The arriving image batch: docs with doc_id%10 ∈ {4, 7}, staged
    * under the batch value model (oracle replays the model). */
  def ahashBatchStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) => MediaRow(id, src, ahashBatchBmp(id)) })
      .toDF()
  }

  /** Per-image average-hash row: the 64-bit hash split into two NONNEGATIVE
    * 32-bit halves (h_hi = blocks 0-31 with block 0 at bit 31, h_lo =
    * blocks 32-63) so banding, XOR and checksum arithmetic stay identical
    * in Spark and DuckDB without signed-bit-63 hazards; `moment` is the
    * position-weighted gray sum Σ gray·(x + w·y + 1) pinning the full
    * per-pixel walk. */
  case class AhashRow(doc_id: Long, source: String, h_hi: Long, h_lo: Long,
                      moment: Long)

  /** REAL average-hash decode for uncompressed 24-bit BMP: parse the pixel
    * array via [[bmpPixelAccessor]], integer luma (r + 2g + b)/4 per
    * pixel, mean per cell of the 8×8 grid (truncating division — exact on
    * the staged mosaics because the parity ripple cancels), global mean
    * of the 64 block means, bit = mean ≥ global mean. None unless both
    * dimensions are positive multiples of 8 (the integer 8×8 downsample
    * is only well-defined there). */
  /** Shared 8×8 downsample for the perceptual hashes: integer-luma
    * block means over the parsed BMP (truncating division) plus the
    * position-weighted gray moment Σ gray·(x + w·y + 1). None unless
    * both dimensions are positive multiples of 8. bm is row-major
    * (by·8 + bx). */
  private def bmpBlockMeans(media: Array[Byte]): Option[(Array[Long], Long)] =
    bmpPixelAccessor(media).flatMap { case (w, h, at) =>
      if (w <= 0 || h <= 0 || w % 8 != 0 || h % 8 != 0) None
      else {
        val cw = w / 8; val ch = h / 8
        val area = cw.toLong * ch
        val bm = new Array[Long](64)
        var moment = 0L
        var by = 0
        while (by < 8) {
          var bx = 0
          while (bx < 8) {
            var sum = 0L
            var y = by * ch
            while (y < (by + 1) * ch) {
              var x = bx * cw
              while (x < (bx + 1) * cw) {
                val gray = (at(x, y, 0) + 2 * at(x, y, 1) + at(x, y, 2)) / 4
                sum += gray
                moment += gray * (x + w.toLong * y + 1)
                x += 1
              }
              y += 1
            }
            bm(by * 8 + bx) = sum / area
            bx += 1
          }
          by += 1
        }
        Some((bm, moment))
      }
    }

  def decodeAhash(media: Array[Byte]): Option[(Long, Long, Long)] =
    bmpBlockMeans(media).map { case (bm, moment) =>
      var total = 0L
      var i = 0
      while (i < 64) { total += bm(i); i += 1 }
      val gmean = total / 64
      var hi = 0L; var lo = 0L
      i = 0
      while (i < 64) {
        val bit = if (bm(i) >= gmean) 1L else 0L
        if (i < 32) hi = (hi << 1) | bit else lo = (lo << 1) | bit
        i += 1
      }
      (hi, lo, moment)
    }

  /** aHash decode pass: decode-as-filter like every pixel gate. */
  def decodedAhash(s: SparkSession, dir: String): DataFrame =
    decodedAhashOf(s, ahashTableStaged(s, dir))

  def decodedAhashOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodeAhash(r.media).map { case (hi, lo, m) =>
          AhashRow(r.doc_id, r.source, hi, lo, m)
        }
      })
      .toDF()
  }

  // ─────────── perceptual-hash (pHash) near-dup fixture (round 16) ───────────
  // The DCT member of the perceptual family: 8×8 downsample (the aHash
  // block means) → 2D DCT-II → 63 AC coefficients → threshold at their
  // MEDIAN → 63-bit hash. What it buys over aHash is PHOTOMETRIC
  // invariance: brightness shifts live entirely in the excluded DC
  // coefficient and contrast scaling multiplies every AC coefficient by
  // the same positive factor (median comparisons unchanged) — so the
  // staged families here are brightness/contrast-edited copies (v = id%4
  // scales contrast by (50+v)/50 around mid-gray and shifts +3v), the
  // edit class aHash's fixture does not exercise. Integer-division
  // requantization makes the variants near- rather than exact-equal
  // (measured over the model: within-family hamming avg 0.13 max 4,
  // cross-family ≈ 31; verify ≤ 6). The base pattern interacts fam with
  // block ((fam+bi)² mod 97) — a per-family constant offset alone would
  // make every same-shape family a brightness twin and collide the
  // whole corpus into one hash cluster, precisely BECAUSE the hash is
  // brightness-invariant.

  /** 8×8 DCT-II twiddle table: Dct8(u)(x) = floor(cos(π(2x+1)u/16)·10⁴)
    * — hardcoded mathematical values (no runtime cos: the table is
    * single-sourced into the oracle via [[dct8Sql]]; none of these
    * angles hits an exact zero, but floor-of-double near a boundary is
    * still a cross-engine hazard not worth taking). */
  val Dct8: Array[Array[Long]] = Array(
    Array(10000L, 10000L, 10000L, 10000L, 10000L, 10000L, 10000L, 10000L),
    Array(9807L, 8314L, 5555L, 1950L, -1951L, -5556L, -8315L, -9808L),
    Array(9238L, 3826L, -3827L, -9239L, -9239L, -3827L, 3826L, 9238L),
    Array(8314L, -1951L, -9808L, -5556L, 5555L, 9807L, 1950L, -8315L),
    Array(7071L, -7072L, -7072L, 7071L, 7071L, -7072L, -7072L, 7071L),
    Array(5555L, -9808L, 1950L, 8314L, -8315L, -1951L, 9807L, -5556L),
    Array(3826L, -9239L, 9238L, -3827L, -3827L, 9238L, -9239L, 3826L),
    Array(1950L, -5556L, 8314L, -9808L, 9807L, -8315L, 5555L, -1951L))

  /** DuckDB CASE fragment for Dct8(`u`)(`x`) — generated from the same
    * array so the engines cannot drift. Both operands must already be
    * in 0..7. */
  def dct8Sql(u: String, x: String): String =
    s"(CASE ($u)*8 + ($x) " +
      (for (uu <- 0 until 8; xx <- 0 until 8)
        yield s"WHEN ${uu * 8 + xx} THEN ${Dct8(uu)(xx)}").mkString(" ") +
      " END)"

  /** Gray base of block `bi` for pHash family `fam`: the (fam+bi)²
    * term varies the SHAPE per family, not just the offset. */
  def phashBlockBase(fam: Long, bi: Int): Int =
    (((fam * 37 + bi * 11L + ((fam + bi) * (fam + bi)) % 97) % 200) + 23).toInt

  /** Staged gray value: variant v = id%4 applies integer contrast
    * (50+v)/50 around mid-gray 122 — algebraically b + floor(v·(b-122)/50),
    * computed as b - 6 + (v·(b-122) + 300)/50 so the dividend stays
    * NONNEGATIVE (min 3): Scala / truncates and the engines' // division
    * semantics differ on negatives, and here the off-by-one would land
    * only on the dark half of each mosaic — a non-uniform shift pHash is
    * NOT invariant to (found by a hash mismatch at sf0.01, id=1 bit
    * flip). Plus brightness +3v and the ±3 column-parity ripple that
    * cancels over every block. Range [20, 240]. */
  def phashPxValue(id: Long, x: Int, y: Int): Int = {
    val bi = (y / 8) * 8 + (x / 8)
    val b = phashBlockBase(id / 4, bi)
    val v = (id % 4).toInt
    b - 6 + (v * (b - 122) + 300) / 50 + 3 * v +
      (if (x % 2 == 0) 3 else -3)
  }

  /** A COMPLETE 64×64 gray BMP for doc `id` under the pHash model —
    * [[gray64Bmp]], the shared layout. */
  def phashBmp(id: Long): Array[Byte] = gray64Bmp((x, y) => phashPxValue(id, x, y))

  def phashTableStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) => MediaRow(id, src, phashBmp(id)) })
      .toDF()
  }

  /** Per-image pHash row: h_hi carries AC coefficients 1..31 (bit
    * 31-idx), h_lo coefficients 32..63 (bit 63-idx) — both nonnegative;
    * bit = coefficient STRICTLY above the median (the 32nd-smallest of
    * the 63 AC values under the (value, index) total order, so ties are
    * deterministic). */
  case class PhashRow(doc_id: Long, source: String, h_hi: Long, h_lo: Long,
                      moment: Long)

  /** REAL pHash decode: parse the BMP, 8×8 block means, separable
    * integer DCT-II against [[Dct8]], median threshold over the 63 AC
    * coefficients. */
  def decodePhash(media: Array[Byte]): Option[(Long, Long, Long)] =
    bmpBlockMeans(media).map { case (bm, moment) =>
      // t(x)(v) = Σ_y m(y)(x)·Dct8(v)(y); coef(u)(v) = Σ_x t(x)(v)·Dct8(u)(x)
      val t = Array.ofDim[Long](8, 8)
      var x = 0
      while (x < 8) {
        var v = 0
        while (v < 8) {
          var s = 0L; var y = 0
          while (y < 8) { s += bm(y * 8 + x) * Dct8(v)(y); y += 1 }
          t(x)(v) = s; v += 1
        }
        x += 1
      }
      val coef = Array.ofDim[Long](8, 8)
      var u = 0
      while (u < 8) {
        var v = 0
        while (v < 8) {
          var s = 0L; var xx = 0
          while (xx < 8) { s += t(xx)(v) * Dct8(u)(xx); xx += 1 }
          coef(u)(v) = s; v += 1
        }
        u += 1
      }
      val ac = (1 until 64).map(i => (coef(i / 8)(i % 8), i)).sorted
      val med = ac(31)._1
      var hi = 0L; var lo = 0L
      var i = 1
      while (i < 64) {
        if (coef(i / 8)(i % 8) > med) {
          if (i < 32) hi |= 1L << (31 - i) else lo |= 1L << (63 - i)
        }
        i += 1
      }
      (hi, lo, moment)
    }

  def decodedPhash(s: SparkSession, dir: String): DataFrame =
    decodedPhashOf(s, phashTableStaged(s, dir))

  def decodedPhashOf(s: SparkSession, mediaDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaDf.as[MediaRow]
      .mapPartitions(_.flatMap { r =>
        decodePhash(r.media).map { case (hi, lo, m) =>
          PhashRow(r.doc_id, r.source, hi, lo, m)
        }
      })
      .toDF()
  }

  // ──────── pHash incremental-ingest batch (mm_phash_incremental) ────────
  // The spectral twin of the aHash ingest batch, exercising the edit
  // class pHash exists for:
  //   doc_id%10 == 7 → a SECOND photometric round on the corpus image
  //     (contrast ×55/50 around mid-gray 122, applied at the BLOCK level
  //     so the parity ripple still cancels) — pHash is invariant to the
  //     affine map up to integer requantization, so the re-submission
  //     lands within hamming ≤ 2 of its corpus doc (measured over all
  //     sf0.1 ids: worst 2, 95% exact-equal) and the ≤ 6 gate must FLAG;
  //   doc_id%10 == 4 → fresh content: the TRANSPOSED block layout with
  //     no variant edits. Transposing block means transposes the DCT
  //     coefficient matrix, so the hash is a bit-permutation of the
  //     original's — far for the asymmetric (fam+bi)² patterns (measured
  //     global minimum hamming vs the ENTIRE sf0.1 corpus: 12 > 6) —
  //     and the gate must PASS it.

  /** Batch gray value of pixel (x, y) for arriving doc `id`. The %10==7
    * edit re-contrasts the corpus BLOCK value cb ∈ [26, 237]:
    * cb + floor(5·(cb−122)/50), computed as cb − 10 + (5·(cb−122)+500)/50
    * so the dividend stays nonnegative (min 20); result ∈ [16, 248], so
    * the ±3 ripple keeps every byte in range. */
  def phashBatchPxValue(id: Long, x: Int, y: Int): Int = {
    val bi = (y / 8) * 8 + (x / 8)
    val ripple = if (x % 2 == 0) 3 else -3
    if (id % 10 == 7) {
      val b = phashBlockBase(id / 4, bi)
      val v = (id % 4).toInt
      val cb = b - 6 + (v * (b - 122) + 300) / 50 + 3 * v
      cb - 10 + (5 * (cb - 122) + 500) / 50 + ripple
    } else {
      val bt = (bi % 8) * 8 + bi / 8
      phashBlockBase(id / 4, bt) + ripple
    }
  }

  /** Arriving-batch BMP for doc `id` under the pHash batch value model. */
  def phashBatchBmp(id: Long): Array[Byte] =
    gray64Bmp((x, y) => phashBatchPxValue(id, x, y))

  /** The arriving image batch for the pHash ingest gate: docs with
    * doc_id%10 ∈ {4, 7}, staged under the batch value model (the oracle
    * replays the model, never these bytes). */
  def phashBatchStaged(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.documents(s, dir)
      .filter(col("doc_id") % 10 === 4 || col("doc_id") % 10 === 7)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, src) => MediaRow(id, src, phashBatchBmp(id)) })
      .toDF()
  }
}
