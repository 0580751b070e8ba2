package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ODT text extraction — the OpenDocument sibling of DOCX (LibreOffice/
  * OpenOffice's native format, the second-most-common "word document"
  * arrival after .docx). An .odt file is an ODF 1.2 package (OASIS
  * OpenDocument Part 3): a plain ZIP whose `content.xml` member carries
  * the document body, with a mandatory STORED `mimetype` member naming
  * the format. This reader COMPOSES the audited [[ZipSource]]
  * central-directory walk with a hand ODF text scanner — the DOCX
  * playbook on the other office-suite lineage.
  *
  * Reference scope note: the reference reads loose text files
  * (FileWordCounter.cpp:189-226); .odt is LLM-pipeline extension
  * surface like DocxSource/PdfSource.
  *
  * Extraction rules (ODF 1.2 Part 1 §5-6, deterministic):
  *  - a PARAGRAPH is a `<text:p>` or `<text:h>` element under
  *    `<office:text>`; non-empty paragraphs join with '\n', empty ones
  *    drop; a nested paragraph (outside annotations) REFUSES;
  *  - character data inside a paragraph is prose — unlike OOXML there
  *    is no run element around it; `<text:span>` is a transparent
  *    formatting wrapper (its children flow);
  *  - WHITESPACE COLLAPSE (§6.1.2): runs of raw whitespace in
  *    character data collapse to a single space — that is WHY the
  *    explicit elements exist: `<text:s/>` is one significant space,
  *    `<text:s text:c="N"/>` is N of them, `<text:tab/>` → '\t',
  *    `<text:line-break/>` → '\n' (explicit expansions never
  *    collapse); entities/charrefs decode to explicit characters;
  *  - `<office:annotation>…</office:annotation>` (reviewer comments —
  *    metadata, never prose) is skipped wholesale, including the
  *    nested `<text:p>` elements it legally carries;
  *  - XML comments and processing instructions are skipped (a comment
  *    may QUOTE `</text:p>`).
  *
  * Malformation returns None — the parse-as-filter contract every
  * container in this repo follows. Refused: unverifiable ZIP
  * structure, missing/foreign `mimetype`, missing `content.xml` or
  * `<office:text>`, a mismatched paragraph close (`</text:h>` closing
  * a `<text:p>`), nested paragraphs, a non-self-closed `<text:s>`/
  * `<text:tab>`/`<text:line-break>` (empty elements per spec), an
  * unparsable `text:c` count, unknown entities, prose outside any
  * paragraph, a paragraph or annotation open at end of body.
  *
  * Scale shape: pure per-document function through mapPartitions —
  * one seekable-blob ZIP parse + one forward XML scan per file,
  * map-only, no shuffle (the docx/pdf/tex/md parse-as-filter family).
  */
object OdtSource {

  private val ContentMember = "content.xml"
  private val MimetypeMember = "mimetype"
  private[graft] val OdtMime = "application/vnd.oasis.opendocument.text"

  /** The `text:c` repeat count of a `<text:s>` attribute region:
    * Some(n) when absent (1) or a parsable positive integer in either
    * quote style; None REFUSES an unparsable count (fail loud — a
    * guessed space count garbles prose silently). */
  private[sources] def spaceCount(attrs: String): Option[Int] =
    DocxSource.attrValue(attrs, "text:c") match {
      case Some(None) => Some(1) // absent: one space (§6.1.3)
      case Some(Some(v))
          if v.nonEmpty && v.forall(_.isDigit) && v.length <= 6 && v.toInt >= 1 =>
        Some(v.toInt)
      case _ => None // unparsable count: refuse, never guess spaces
    }

  /** True when the tag starting at `i` (already matched on `prefix`)
    * ends its NAME there — the next char is '/', '>' or whitespace —
    * so `<text:s` does not swallow `<text:span`. */
  private[sources] def tagBoundary(xml: String, i: Int, prefix: String): Boolean = {
    val j = i + prefix.length
    j < xml.length && {
      val c = xml.charAt(j)
      c == '/' || c == '>' || Character.isWhitespace(c)
    }
  }

  /** Extract (prose text, n_paras) from ODF content.xml, or None on
    * malformation. See the object doc for the rules. */
  private[graft] def extractContentXml(xml: String): Option[(String, Int)] = {
    val bodyAt = xml.indexOf("<office:text")
    if (bodyAt < 0) return None
    var i = xml.indexOf('>', bodyAt)
    if (i < 0) return None
    i += 1
    val paras = Seq.newBuilder[String]
    var nParas = 0
    val cur = new StringBuilder
    var inPara = false
    var closeTag: String = null // "</text:p>" or "</text:h>" while inPara
    var lastWasSpace = false // raw-whitespace collapse state
    var done = false
    val n = xml.length
    while (!done && i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        if (xml.startsWith("<!--", i)) {
          val e = xml.indexOf("-->", i + 4)
          if (e < 0) return None
          i = e + 3
        } else if (xml.startsWith("<?", i)) {
          val e = xml.indexOf("?>", i + 2)
          if (e < 0) return None
          i = e + 2
        } else if (xml.startsWith("</office:text", i)) {
          if (inPara) return None // paragraph open at end of body
          done = true
        } else if (xml.startsWith("<office:annotation", i) &&
                   tagBoundary(xml, i, "<office:annotation")) {
          // Reviewer comment: metadata, never prose — skipped wholesale
          // (it legally nests its own text:p elements).
          val gt = xml.indexOf('>', i)
          if (gt < 0) return None
          if (xml.charAt(gt - 1) == '/') i = gt + 1
          else {
            val e = xml.indexOf("</office:annotation>", gt)
            if (e < 0) return None
            i = e + "</office:annotation>".length
          }
        } else if ((xml.startsWith("<text:p", i) && tagBoundary(xml, i, "<text:p")) ||
                   (xml.startsWith("<text:h", i) && tagBoundary(xml, i, "<text:h"))) {
          if (inPara) return None // nested paragraph outside an annotation
          val isP = xml.startsWith("<text:p", i)
          val gt = xml.indexOf('>', i)
          if (gt < 0) return None
          if (xml.charAt(gt - 1) == '/') i = gt + 1 // empty paragraph: drops
          else {
            inPara = true
            closeTag = if (isP) "</text:p>" else "</text:h>"
            cur.clear()
            lastWasSpace = false
            i = gt + 1
          }
        } else if ((xml.startsWith("</text:p", i) && i + 8 < xml.length &&
                    xml.charAt(i + 8) == '>') ||
                   (xml.startsWith("</text:h", i) && i + 8 < xml.length &&
                    xml.charAt(i + 8) == '>')) {
          // The boundary check ('>' right after the name) keeps valid
          // ODF close tags that merely SHARE the prefix —
          // </text:page-number>, </text:hidden-text>, … — in the
          // generic skip below instead of refusing the whole document
          // (round-20 review finding). A paragraph close must then
          // match ITS open tag — </text:h> closing a <text:p> is
          // malformed, not "close enough".
          if (!inPara || !xml.startsWith(closeTag, i)) return None
          val t = cur.result()
          if (t.nonEmpty) { paras += t; nParas += 1 }
          inPara = false
          i += closeTag.length
        } else if (inPara && xml.startsWith("<text:span", i) &&
                   tagBoundary(xml, i, "<text:span")) {
          // Transparent formatting wrapper: children flow as prose.
          val gt = xml.indexOf('>', i)
          if (gt < 0) return None
          i = gt + 1 // self-closed contributes nothing; open form's
          //          // close tag falls to the generic skip below
        } else if (inPara && xml.startsWith("<text:s", i) &&
                   tagBoundary(xml, i, "<text:s")) {
          // Explicit significant space(s) — the element exists because
          // raw runs collapse. Empty element per spec: must self-close.
          val gt = xml.indexOf('>', i)
          if (gt < 0 || xml.charAt(gt - 1) != '/') return None
          spaceCount(xml.substring(i, gt - 1)) match {
            case Some(k) => var j = 0; while (j < k) { cur += ' '; j += 1 }
            case None => return None
          }
          lastWasSpace = false // explicit spaces never merge with raw runs
          i = gt + 1
        } else if (inPara && xml.startsWith("<text:tab", i) &&
                   tagBoundary(xml, i, "<text:tab")) {
          val gt = xml.indexOf('>', i)
          if (gt < 0 || xml.charAt(gt - 1) != '/') return None
          cur += '\t'; lastWasSpace = false
          i = gt + 1
        } else if (inPara && xml.startsWith("<text:line-break", i) &&
                   tagBoundary(xml, i, "<text:line-break")) {
          val gt = xml.indexOf('>', i)
          if (gt < 0 || xml.charAt(gt - 1) != '/') return None
          cur += '\n'; lastWasSpace = false
          i = gt + 1
        } else {
          // Any other tag (text:span close, style/bookmark/frame
          // elements, …): structural, skip the tag itself.
          val gt = xml.indexOf('>', i)
          if (gt < 0) return None
          i = gt + 1
        }
      } else if (inPara) {
        if (c == '&') DocxSource.entity(xml, i) match {
          case Some((t, j)) => cur ++= t; lastWasSpace = false; i = j
          case None => return None
        }
        else if (Character.isWhitespace(c)) {
          if (!lastWasSpace && cur.nonEmpty) cur += ' ' // collapse; leading drops
          lastWasSpace = true
          i += 1
        } else { cur += c; lastWasSpace = false; i += 1 }
      } else {
        if (!Character.isWhitespace(c)) return None // prose outside a paragraph
        i += 1
      }
    }
    if (!done) return None // office:text never closes
    Some((paras.result().mkString("\n"), nParas))
  }

  /** Full extraction for one .odt blob: ZIP walk (verified — the
    * parse-as-filter ZIP contract) → mandatory `mimetype` check →
    * `content.xml` → scanner. */
  def extractOdt(fileName: String, bytes: Array[Byte]): Option[(String, Int)] = {
    val (members, clean) = ZipSource.parseZipRetain(fileName, bytes,
      n => n == ContentMember || n == MimetypeMember)
    if (!clean) return None
    val mime = members.collectFirst {
      case (e, p) if e.name == MimetypeMember && p != null =>
        new String(p, java.nio.charset.StandardCharsets.UTF_8)
    }
    // ODF Part 3 §3.3: the mimetype member is REQUIRED and names the
    // format — a package without it (or claiming a spreadsheet) is not
    // an ODT text document, whatever its extension says.
    if (!mime.contains(OdtMime)) return None
    members.collectFirst { case (e, p) if e.name == ContentMember && p != null => p }
      .flatMap(p => extractContentXml(
        new String(p, java.nio.charset.StandardCharsets.UTF_8)))
  }

  // ───────────── deterministic fixture (one .odt per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101) become .odt files (bounded file count at
  // every SF — the docx/ipynb kept-id scheme). The document exercises
  // every rule above: a heading with a span split, entities + char
  // refs, tab/line-break, explicit text:s spaces (counted and single)
  // against collapsing raw runs, an annotation trap nesting its own
  // text:p, a single-quoted style attribute, empty paragraphs, and a
  // comment QUOTING close tags.

  /** The ODF content.xml for doc `id` — built by hand so the staged
    * bytes are engine-neutral ground truth. */
  def contentXml(id: Long): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" xmlns:dc="http://purl.org/dc/elements/1.1/" office:version="1.2">
       |<office:body>
       |<office:text>
       |<text:h text:style-name="Heading_20_1" text:outline-level="1">Doc ${id % 9} <text:span text:style-name="T1">heading</text:span> tail.</text:h>
       |<text:p/>
       |<!-- decoy close tags a textual scanner trips on: </text:p> </office:text> -->
       |<text:p>Amp &amp; lt &lt; caf&#233; h&#x2D;${id % 5}.</text:p>
       |<text:p>A${id % 5}<text:tab/>B${id % 3}<text:line-break/>C${id % 9}</text:p>
       |<text:p>Gap<text:s/>one<text:s text:c="3"/>three   collapsed ${id % 4}.</text:p>
       |<text:p><office:annotation office:name="c1"><dc:creator>rev</dc:creator><text:p>NOTE $id never prose</text:p></office:annotation>Kept ${id % 6}.</text:p>
       |<text:p text:style-name='P1'>Styled ${id % 8}</text:p>
       |</office:text>
       |</office:body>
       |</office:document-content>
       |""".stripMargin

  /** The prose truth for doc `id` (the oracle rebuilds these exact
    * lines in SQL — it never sees an odt byte). */
  def odtExpected(id: Long): String = Seq(
    s"Doc ${id % 9} heading tail.",
    s"Amp & lt < café h-${id % 5}.",
    s"A${id % 5}\tB${id % 3}\nC${id % 9}",
    s"Gap one   three collapsed ${id % 4}.",
    s"Kept ${id % 6}.",
    s"Styled ${id % 8}").mkString("\n")

  /** Paragraph count of the fixture document (constant). */
  val ExpectedParas: Int = 6

  private val Manifest =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">
      |<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.text"/>
      |<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>
      |</manifest:manifest>
      |""".stripMargin

  /** One complete ODF package for doc `id` — a real three-member ZIP
    * with the `mimetype` member FIRST and STORED (ODF Part 3 §3.3's
    * magic-sniffing rule), the manifest, and `content.xml` DEFLATED. */
  private[graft] def odtBytes(id: Long): Array[Byte] =
    ZipSource.archive(Seq(
      ZipSource.Member(MimetypeMember,
        OdtMime.getBytes("UTF-8"), deflate = false,
        descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member("META-INF/manifest.xml",
        Manifest.getBytes("UTF-8"), deflate = false,
        descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member(ContentMember,
        contentXml(id).getBytes("UTF-8"), deflate = true,
        descriptor = false, localExtra = Array.emptyByteArray)),
      comment = s"graft odt $id")

  /** Stage one `doc<id>.odt` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_ODT_V1", "doc", ".odt")(odtBytes)

  /** (doc_id, text, n_paras, n_chars) over a directory of `.odt`
    * files — parse-as-filter, map-only (the docx/pdf/tex family). */
  def extractedOdt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "doc", ".odt") { (id, name, bytes) =>
      extractOdt(name, bytes).map { case (text, np) =>
        (id, text, np.toLong, text.length.toLong)
      }
    }.toDF("doc_id", "text", "n_paras", "n_chars")
  }
}
