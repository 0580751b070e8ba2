package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** DOCX text extraction — the dominant enterprise/document arrival
  * format after PDF. A .docx file is an OPC package (ECMA-376 Part 2):
  * a plain ZIP archive whose `word/document.xml` member carries the
  * WordprocessingML body. This reader COMPOSES two audited layers
  * already in-tree: [[ZipSource]]'s central-directory walk (payload
  * retention via parseZipRetain) and a hand WordprocessingML scanner
  * built from the public ECMA-376 Part 1 rules.
  *
  * Reference scope note: the reference reads loose text files
  * (FileWordCounter.cpp:189-226); .docx is what enterprise "text"
  * actually arrives as — LLM-pipeline extension surface like
  * PdfSource/TexSource.
  *
  * Extraction rules (ECMA-376 §17.3, deterministic):
  *  - a PARAGRAPH is a `<w:p>` element ANYWHERE under `<w:body>` —
  *    including inside table cells (`<w:tbl>/<w:tr>/<w:tc>` nest
  *    paragraphs; their prose is prose). Non-empty paragraphs join
  *    with '\n'; empty ones (spacing-only `<w:p/>`) drop;
  *  - run text is `<w:t>` content, CONCATENATED across runs — Word
  *    splits one visual sentence into many runs at every formatting
  *    boundary, so per-run handling that inserts separators corrupts
  *    real documents;
  *  - `<w:t>` content is TRIMMED unless the element carries
  *    `xml:space="preserve"` (§17.3.3.31 — writers set preserve
  *    exactly when edge whitespace is significant);
  *  - `<w:tab/>` → '\t', `<w:br/>` and `<w:cr/>` → '\n' (§17.3.3);
  *  - `<w:instrText>` (field instruction code, e.g. ` PAGE `) and
  *    `<w:delText>` (tracked-change DELETED text) never reach prose;
  *  - XML entities decode: the five XML 1.0 named entities plus
  *    decimal `&#N;` and hex `&#xN;` character references;
  *  - XML comments and processing instructions are skipped (a comment
  *    may QUOTE `</w:t>` — a textual search would truncate the run).
  *
  * Malformation returns None — the parse-as-filter contract every
  * container in this repo follows. Refused: unverifiable ZIP
  * structure, missing `word/document.xml`, missing `<w:body>`,
  * unterminated `<w:t>`/comment/PI, an entity with no terminator or an
  * unknown name, a `<w:p>` still open at end of body.
  *
  * Scale shape: pure per-document function through mapPartitions —
  * one seekable-blob ZIP parse + one forward XML scan per file,
  * map-only, no shuffle (the pdf/tex/md parse-as-filter family).
  */
object DocxSource {

  private val DocMember = "word/document.xml"

  /** Decode one XML entity starting at `&` (index `i`); returns
    * (decoded char(s), index past ';') or None on malformation.
    * Shared with [[XlsxSource]] — one decoder for the OPC family. */
  private[sources] def entity(s: String, i: Int): Option[(String, Int)] = {
    val semi = s.indexOf(';', i + 1)
    if (semi < 0 || semi - i > 12) return None
    val name = s.substring(i + 1, semi)
    val out = name match {
      case "amp" => "&"
      case "lt" => "<"
      case "gt" => ">"
      case "quot" => "\""
      case "apos" => "'"
      case _ if name.startsWith("#x") || name.startsWith("#X") =>
        try new String(Character.toChars(Integer.parseInt(name.substring(2), 16)))
        catch { case _: RuntimeException => return None }
      case _ if name.startsWith("#") =>
        try new String(Character.toChars(Integer.parseInt(name.substring(1))))
        catch { case _: RuntimeException => return None }
      case _ => return None
    }
    Some((out, semi + 1))
  }

  /** Character data of one element: from index `i` (just past the open
    * tag's '>') to its close tag, entities decoded. Returns
    * (text, index past the close tag) or None (unterminated / bad
    * entity). WordprocessingML text elements contain no child markup,
    * so the scan runs to the FIRST '<' — which must open `close`. */
  private[sources] def textTo(s: String, i0: Int, close: String): Option[(String, Int)] = {
    val sb = new StringBuilder
    var i = i0
    val n = s.length
    while (i < n) {
      s.charAt(i) match {
        case '<' =>
          if (s.startsWith(close, i)) return Some((sb.result(), i + close.length))
          else return None // child markup inside a text element: malformed
        case '&' =>
          entity(s, i) match {
            case Some((t, j)) => sb ++= t; i = j
            case None => return None
          }
        case c => sb += c; i += 1
      }
    }
    None // unterminated
  }

  /** xml:space handling for an opening tag's attribute region
    * (§17.3.3.31 / XML 1.0 §2.10): Some(true) = preserve edge
    * whitespace, Some(false) = trim (attribute absent or explicit
    * "default"), None = REFUSE — xml:space is present but unparsable
    * (no '=', unterminated quote, or a value outside the two the XML
    * spec allows). Either quote style is legal XML and real writers
    * emit both; refusing the unparsable case keeps whitespace handling
    * fail-loud instead of silently trimming significant edges.
    * Shared with [[XlsxSource]] — one parser for the OPC family. */
  private[sources] def spacePreserve(attrs: String): Option[Boolean] =
    attrValue(attrs, "xml:space") match {
      case Some(None) => Some(false) // absent: the XML default, trim
      case Some(Some("preserve")) => Some(true)
      case Some(Some("default")) => Some(false)
      case _ => None // unparsable or a value outside the spec's two
    }

  /** ONE attribute-value scanner for the OPC/ODF tag families
    * (round-20 review: [[spacePreserve]] and OdtSource.spaceCount were
    * drifting copies): locate `name` in an opening tag's attribute
    * region, skip optional whitespace around '=', accept EITHER quote
    * style. Some(None) = attribute absent; Some(Some(v)) = parsed
    * value; None = present but UNPARSABLE (no '=', unterminated
    * quote) — callers refuse rather than guess. */
  private[sources] def attrValue(attrs: String, name: String): Option[Option[String]] = {
    val n = attrs.length
    var from = 0
    while (from < n) {
      val at = attrs.indexOf(name, from)
      if (at < 0) return Some(None)
      // NAME-BOUNDARY checks: `office:value` must not match inside
      // `office:value-type` (after) nor inside a longer prefixed name
      // (before) — a prefix hit silently binds the WRONG attribute.
      val beforeOk = at == 0 || Character.isWhitespace(attrs.charAt(at - 1))
      val j = at + name.length
      val afterOk = j >= n || attrs.charAt(j) == '=' ||
        Character.isWhitespace(attrs.charAt(j))
      if (beforeOk && afterOk) {
        var i = j
        while (i < n && Character.isWhitespace(attrs.charAt(i))) i += 1
        if (i >= n || attrs.charAt(i) != '=') return None
        i += 1
        while (i < n && Character.isWhitespace(attrs.charAt(i))) i += 1
        if (i >= n) return None
        val q = attrs.charAt(i)
        if (q != '"' && q != '\'') return None
        val end = attrs.indexOf(q, i + 1)
        if (end < 0) return None
        return Some(Some(attrs.substring(i + 1, end)))
      }
      from = at + 1
    }
    Some(None)
  }

  /** Extract (prose text, n_paras) from WordprocessingML bytes, or
    * None on malformation. See the object doc for the rules. */
  private[graft] def extractDocumentXml(xml: String): Option[(String, Int)] = {
    val bodyAt = xml.indexOf("<w:body")
    if (bodyAt < 0) return None
    val paras = Seq.newBuilder[String]
    var nParas = 0
    val cur = new StringBuilder
    var inPara = false
    var i = xml.indexOf('>', bodyAt)
    if (i < 0) return None
    i += 1
    val n = xml.length
    var done = false
    while (!done && i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) return None // body never closes
      i = lt
      if (xml.startsWith("<!--", i)) {
        val e = xml.indexOf("-->", i + 4)
        if (e < 0) return None
        i = e + 3
      } else if (xml.startsWith("<?", i)) {
        val e = xml.indexOf("?>", i + 2)
        if (e < 0) return None
        i = e + 2
      } else if (xml.startsWith("</w:body", i)) {
        if (inPara) return None // paragraph still open at end of body
        done = true
      } else if (xml.startsWith("<w:p>", i) || xml.startsWith("<w:p ", i) ||
                 xml.startsWith("<w:p/>", i)) {
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') { i = gt + 1 } // self-closed empty
        // paragraph — Word routinely writes `<w:p w:rsidR="…"/>`, not
        // just the bare `<w:p/>`: spacing-only, drops.
        else {
          if (inPara) return None // w:p does not nest directly
          inPara = true
          cur.clear()
          i = gt + 1
        }
      } else if (xml.startsWith("</w:p>", i)) {
        if (!inPara) return None
        inPara = false
        val t = cur.result()
        if (t.nonEmpty) { paras += t; nParas += 1 }
        i += 6
      } else if (inPara && (xml.startsWith("<w:t>", i) || xml.startsWith("<w:t ", i))) {
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') { i = gt + 1 } // self-closed <w:t/>
        // (with or without attributes): an empty run, contributes nothing.
        else spacePreserve(xml.substring(i, gt)) match {
          case None => return None // xml:space present but unparsable
          case Some(preserve) =>
            textTo(xml, gt + 1, "</w:t>") match {
              case Some((t, j)) =>
                cur ++= (if (preserve) t else t.trim)
                i = j
              case None => return None
            }
        }
      } else if (inPara && (xml.startsWith("<w:tab/>", i) || xml.startsWith("<w:tab ", i))) {
        cur += '\t'
        i = xml.indexOf('>', i) + 1
      } else if (inPara && (xml.startsWith("<w:br/>", i) || xml.startsWith("<w:br ", i) ||
                            xml.startsWith("<w:cr/>", i))) {
        cur += '\n'
        i = xml.indexOf('>', i) + 1
      } else if (xml.startsWith("<w:instrText", i)) {
        // Field instruction code — configuration, never prose. The
        // self-closed form (legal, occasionally emitted) is an empty
        // instruction: skip the tag, contribute nothing — scanning for
        // the close tag would refuse the whole valid document.
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') i = gt + 1
        else textTo(xml, gt + 1, "</w:instrText>") match {
          case Some((_, j)) => i = j
          case None => return None
        }
      } else if (xml.startsWith("<w:delText", i)) {
        // Tracked-change deleted text — REMOVED content, never prose.
        // Self-closed = an empty deletion: skip, contribute nothing.
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') i = gt + 1
        else textTo(xml, gt + 1, "</w:delText>") match {
          case Some((_, j)) => i = j
          case None => return None
        }
      } else {
        // Any other tag (w:r, w:rPr, w:pPr, w:tbl, w:tr, w:tc, w:del,
        // w:fldChar, w:sectPr, …): structural, skip the tag itself;
        // its prose-bearing children are handled by the cases above.
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        i = gt + 1
      }
    }
    if (!done) return None // </w:body> never seen
    Some((paras.result().mkString("\n"), nParas))
  }

  /** Full extraction for one .docx blob: ZIP walk (verified — the
    * parse-as-filter ZIP contract) → `word/document.xml` → scanner. */
  def extractDocx(fileName: String, bytes: Array[Byte]): Option[(String, Int)] = {
    val (members, clean) = ZipSource.parseZipRetain(fileName, bytes, _ == DocMember)
    if (!clean) return None
    members.collectFirst { case (e, p) if e.name == DocMember && p != null => p }
      .flatMap(p => extractDocumentXml(
        new String(p, java.nio.charset.StandardCharsets.UTF_8)))
  }

  // ───────────── deterministic fixture (one .docx per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101) become .docx files (bounded file count at
  // every SF — the ipynb kept-id scheme). The document exercises every
  // rule above: a 3-run formatting split with xml:space preserve edges,
  // entity + numeric/hex char refs with the non-preserve trim, tab/br
  // runs, a field-code instrText trap, a tracked-change delText trap,
  // a table-cell paragraph, empty paragraphs, and a comment QUOTING
  // the `</w:t>` close tag.

  /** The WordprocessingML body for doc `id` — built by hand so the
    * staged bytes are engine-neutral ground truth. */
  def documentXml(id: Long): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
       |<w:body>
       |<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t xml:space="preserve">Title </w:t></w:r><w:r><w:rPr><w:b/></w:rPr><w:t>bold ${id % 7}</w:t></w:r><w:r><w:t xml:space="preserve"> tail.</w:t></w:r></w:p>
       |<w:p/>
       |<!-- decoy close tags a textual scanner trips on: </w:t> </w:p> -->
       |<w:p><w:r><w:t>  Amp &amp; lt &lt; caf&#233; h&#x2D;${id % 5}.  </w:t></w:r></w:p>
       |<w:p><w:r><w:t>A${id % 5}</w:t></w:r><w:r><w:rPr><w:i/></w:rPr><w:tab/><w:t>B${id % 3}</w:t><w:br/><w:t>C${id % 9}</w:t></w:r></w:p>
       |<w:p><w:r><w:fldChar w:fldCharType="begin"/></w:r><w:r><w:instrText xml:space="preserve"> PAGE \\* MERGEFORMAT </w:instrText></w:r><w:r><w:fldChar w:fldCharType="end"/></w:r><w:r><w:t>Page ${id % 4}</w:t></w:r></w:p>
       |<w:p><w:del w:id="1"><w:r><w:delText>GONE $id</w:delText></w:r></w:del><w:r><w:t>Kept ${id % 6}.</w:t></w:r></w:p>
       |<w:tbl><w:tr><w:tc><w:p><w:r><w:t>Cell ${id % 8}</w:t></w:r></w:p></w:tc></w:tr></w:tbl>
       |<w:p><w:pPr/></w:p>
       |<w:sectPr><w:pgSz w:w="12240" w:h="15840"/></w:sectPr>
       |</w:body>
       |</w:document>
       |""".stripMargin

  /** The prose truth for doc `id` (the oracle rebuilds these exact
    * lines in SQL — it never sees a docx byte). */
  def docxExpected(id: Long): String = Seq(
    s"Title bold ${id % 7} tail.",
    s"Amp & lt < café h-${id % 5}.",
    s"A${id % 5}\tB${id % 3}\nC${id % 9}",
    s"Page ${id % 4}",
    s"Kept ${id % 6}.",
    s"Cell ${id % 8}").mkString("\n")

  /** Paragraph count of the fixture document (constant). */
  val ExpectedParas: Int = 6

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/word/document.xml" ContentType="application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml"/>
      |</Types>
      |""".stripMargin

  private val Rels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="word/document.xml"/>
      |</Relationships>
      |""".stripMargin

  /** One complete OPC package for doc `id` — a real three-member ZIP
    * ([Content_Types].xml, _rels/.rels, word/document.xml) with the
    * document member DEFLATED (method 8 on the prose path). */
  private[graft] def docxBytes(id: Long): Array[Byte] =
    ZipSource.archive(Seq(
      ZipSource.Member("[Content_Types].xml",
        ContentTypes.getBytes("UTF-8"), deflate = false,
        descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member("_rels/.rels",
        Rels.getBytes("UTF-8"), deflate = false,
        descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member(DocMember,
        documentXml(id).getBytes("UTF-8"), deflate = true,
        descriptor = false, localExtra = Array.emptyByteArray)),
      comment = s"graft docx $id")

  /** Stage one `doc<id>.docx` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_DOCX_V1", "doc", ".docx")(docxBytes)

  /** (doc_id, text, n_paras, n_chars) over a directory of `.docx`
    * files — parse-as-filter, map-only (the pdf/tex/md family). */
  def extractedDocx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "doc", ".docx") { (id, name, bytes) =>
      extractDocx(name, bytes).map { case (text, np) =>
        (id, text, np.toLong, text.length.toLong)
      }
    }.toDF("doc_id", "text", "n_paras", "n_chars")
  }
}
