package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** ODS cell extraction — the OpenDocument spreadsheet (LibreOffice
  * Calc's native format), completing the ODF pair the way XlsxSource
  * completes the OPC one. An .ods file is an ODF package: a ZIP whose
  * `content.xml` carries `<office:spreadsheet>` tables, with the
  * mandatory STORED `mimetype` member naming the format.
  *
  * Extraction rules (ODF 1.2 Part 1 §9, deterministic):
  *  - cells are `<table:table-cell>` under `<table:table-row>`; the
  *    GRID POSITION is tracked through the two repeat attributes —
  *    `table:number-columns-repeated` advances the column counter and
  *    `table:number-rows-repeated` materializes the whole row again
  *    (LibreOffice emits both routinely; ignoring them mis-addresses
  *    every later cell in the row/sheet);
  *  - typed values come from the TYPE-SPECIFIC attribute —
  *    `office:value` (float/percentage/currency), `office:boolean-value`,
  *    `office:date-value` — NOT from the display text (the attribute is
  *    the canonical full-precision value; the nested `<text:p>` is a
  *    locale-formatted rendering);
  *  - string cells take their `<text:p>` content (entities decode;
  *    multiple paragraphs join with '\n');
  *  - EMPTY repeated cells are skipped without materializing — real
  *    writers pad rows with `table:number-columns-repeated="16384"`
  *    trailers, and a reader that materializes them emits millions of
  *    phantom cells; non-empty repeats materialize each copy (they are
  *    real data) with the repeat capped at 10⁴ — past that is a
  *    corrupt/adversarial file and REFUSES;
  *  - `<table:covered-table-cell>` (under a merge) occupies grid
  *    positions — the column counter advances — but emits nothing.
  *
  * Malformation returns None — the parse-as-filter contract: corrupt
  * ZIP, missing/foreign `mimetype`, missing `content.xml` or
  * `<office:spreadsheet>`, an unknown `office:value-type`, a typed
  * cell missing its value attribute, an unparsable repeat count, or
  * unterminated elements.
  *
  * Scale shape: pure per-document function through mapPartitions —
  * map-only, no shuffle (the xlsx/docx/odt parse-as-filter family).
  */
object OdsSource {

  private val ContentMember = "content.xml"
  private val MimetypeMember = "mimetype"
  private[graft] val OdsMime = "application/vnd.oasis.opendocument.spreadsheet"

  /** One extracted cell: 1-based grid position, kind
    * (text/num/bool/date) and canonical value. */
  case class Cell(row: Int, col: Int, kind: String, value: String)

  private def repeatOf(attrs: String, name: String): Option[Int] =
    DocxSource.attrValue(attrs, name) match {
      case Some(None) => Some(1)
      case Some(Some(v))
          if v.nonEmpty && v.forall(_.isDigit) && v.length <= 7 && v.toInt >= 1 =>
        Some(v.toInt)
      case _ => None // present but unparsable: refuse, never mis-address
    }

  /** Entity-decoded FLAT text (no child markup — a string cell's
    * paragraph with nested spans refuses rather than garbles). */
  private def flatText(s: String): Option[String] = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '<' => return None
        case '&' => DocxSource.entity(s, i) match {
          case Some((t, j)) => sb ++= t; i = j
          case None => return None
        }
        case c => sb += c; i += 1
      }
    }
    Some(sb.result())
  }

  /** The string content of a cell body: its `<text:p>` paragraphs
    * joined with '\n', entities decoded; None on malformation. */
  /** The string content of a cell body: its `<text:p>` paragraphs
    * joined with '\n' — with a NAME-BOUNDARY check (so
    * `<text:page-number>` never matches) and `<office:annotation>`
    * blocks skipped wholesale (a reviewer comment's nested paragraphs
    * are metadata: concatenating them into the cell value would garble,
    * the round-20 review finding). */
  private def cellText(body: String): Option[String] = {
    val paras = Seq.newBuilder[String]
    var i = 0
    while (i < body.length) {
      // Boundary-checked like <text:p below: '<office:annotation-end/>'
      // is a RANGE MARKER sharing the prefix, not an annotation open —
      // treating it as one would skip real paragraphs up to an unrelated
      // '</office:annotation>' (garbled value, not a refusal).
      var ann = body.indexOf("<office:annotation", i)
      while (ann >= 0 && !OdtSource.tagBoundary(body, ann, "<office:annotation"))
        ann = body.indexOf("<office:annotation", ann + 1)
      var lt = body.indexOf("<text:p", i)
      // Skip annotations that precede the next paragraph candidate.
      if (ann >= 0 && (lt < 0 || ann < lt)) {
        val e = body.indexOf("</office:annotation>", ann)
        if (e < 0) return None
        i = e + "</office:annotation>".length
      } else if (lt < 0) {
        return Some(paras.result().mkString("\n"))
      } else if (!OdtSource.tagBoundary(body, lt, "<text:p")) {
        i = lt + "<text:p".length // <text:page-number> etc.: not a paragraph
      } else {
        val gt = body.indexOf('>', lt)
        if (gt < 0) return None
        if (body.charAt(gt - 1) == '/') { i = gt + 1 } // empty paragraph
        else {
          val end = body.indexOf("</text:p>", gt)
          if (end < 0) return None
          flatText(body.substring(gt + 1, end)) match {
            case Some(t) => paras += t
            case None => return None
          }
          i = end + "</text:p>".length
        }
      }
    }
    Some(paras.result().mkString("\n"))
  }

  /** XML comments removed (refusing an unterminated one) — done ONCE up
    * front so extent searches (row/cell close tags) can never be fooled
    * by a decoy close tag quoted inside a comment; merging character
    * data across a removed comment is exactly XML's semantics. */
  private def stripComments(xml: String): Option[String] = {
    if (!xml.contains("<!--")) return Some(xml)
    val sb = new StringBuilder(xml.length)
    var i = 0
    while (i < xml.length) {
      val c = xml.indexOf("<!--", i)
      if (c < 0) { sb ++= xml.substring(i); i = xml.length }
      else {
        sb ++= xml.substring(i, c)
        val e = xml.indexOf("-->", c + 4)
        if (e < 0) return None // unterminated comment
        i = e + 3
      }
    }
    Some(sb.result())
  }

  // The ODF column limit is 16384; anything driving a grid counter past
  // this bound is corrupt/adversarial and REFUSES — it also makes Int
  // overflow via stacked repeats unreachable (round-20 review finding).
  private val MaxGrid = 10000000

  /** Extract all cells from ODF spreadsheet content.xml, or None on
    * malformation. See the object doc for the rules. */
  private[graft] def extractSpreadsheetXml(rawXml: String): Option[Seq[Cell]] = {
    val xml = stripComments(rawXml).getOrElse(return None)
    val sheetAt = xml.indexOf("<office:spreadsheet")
    if (sheetAt < 0) return None
    val out = Seq.newBuilder[Cell]
    var row = 0 // 1-based after the first <table:table-row>
    var i = xml.indexOf('>', sheetAt)
    if (i < 0) return None
    i += 1
    val n = xml.length
    var done = false
    while (!done && i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) return None
      i = lt
      if (xml.startsWith("</office:spreadsheet", i)) {
        done = true
      } else if (xml.startsWith("<table:table-row", i)) {
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        val rowRepeat = repeatOf(xml.substring(i, gt), "table:number-rows-repeated")
          .getOrElse(return None)
        if (xml.charAt(gt - 1) == '/') { row += rowRepeat; i = gt + 1 } // empty row(s)
        else {
          val rowEnd = xml.indexOf("</table:table-row>", gt)
          if (rowEnd < 0) return None
          val cells = parseRow(xml.substring(gt + 1, rowEnd)).getOrElse(return None)
          // The repeat cap applies only to rows that MATERIALIZE cells:
          // Calc pads sheets with million-fold EMPTY row repeats (the
          // row analogue of the 16384-column trailer), which must
          // advance the counter, not refuse (round-20 review finding).
          if (cells.nonEmpty && rowRepeat > 10000) return None
          if (cells.isEmpty) row += rowRepeat
          else {
            var r = 0
            while (r < rowRepeat) {
              row += 1
              cells.foreach(c => out += Cell(row, c.col, c.kind, c.value))
              r += 1
            }
          }
          i = rowEnd + "</table:table-row>".length
        }
        if (row > MaxGrid) return None // stacked-repeat overflow guard
      } else {
        // table:table open/close, columns decl, calculation settings…:
        // structural, skip the tag.
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        i = gt + 1
      }
    }
    if (!done) return None
    Some(out.result())
  }

  /** Cells of ONE row body (row index filled by the caller). */
  private def parseRow(body: String): Option[Seq[Cell]] = {
    val out = Seq.newBuilder[Cell]
    var col = 1
    var i = 0
    val n = body.length
    while (i < n) {
      val lt = body.indexOf('<', i)
      if (lt < 0) return Some(out.result())
      i = lt
      if (body.startsWith("<table:covered-table-cell", i)) {
        // Under a merge: occupies grid positions, emits nothing.
        val gt = body.indexOf('>', i)
        if (gt < 0) return None
        val rep = repeatOf(body.substring(i, gt), "table:number-columns-repeated")
          .getOrElse(return None)
        col += rep
        if (col > MaxGrid) return None // stacked-repeat overflow guard
        i = if (body.charAt(gt - 1) == '/') gt + 1
            else {
              val e = body.indexOf("</table:covered-table-cell>", gt)
              if (e < 0) return None
              e + "</table:covered-table-cell>".length
            }
      } else if (body.startsWith("<table:table-cell", i)) {
        val gt = body.indexOf('>', i)
        if (gt < 0) return None
        val attrs = body.substring(i, gt)
        val rep = repeatOf(attrs, "table:number-columns-repeated")
          .getOrElse(return None)
        val selfClosed = body.charAt(gt - 1) == '/'
        val cellEnd =
          if (selfClosed) gt
          else {
            val e = body.indexOf("</table:table-cell>", gt)
            if (e < 0) return None
            e
          }
        val cellBody = if (selfClosed) "" else body.substring(gt + 1, cellEnd)
        val vt = DocxSource.attrValue(attrs, "office:value-type")
          .getOrElse(return None)
        val made: Option[Cell] = vt match {
          case None =>
            // An UNTYPED cell is empty padding — this is where the
            // number-columns-repeated="16384" trailers live: skip
            // without materializing, whatever the repeat says.
            None
          case Some("string") =>
            Some(Cell(0, 0, "text", cellText(cellBody).getOrElse(return None)))
          case Some("float") | Some("percentage") | Some("currency") =>
            DocxSource.attrValue(attrs, "office:value") match {
              case Some(Some(v)) => Some(Cell(0, 0, "num", v))
              case _ => return None // typed cell missing its value attr
            }
          case Some("boolean") =>
            DocxSource.attrValue(attrs, "office:boolean-value") match {
              case Some(Some("true")) => Some(Cell(0, 0, "bool", "1"))
              case Some(Some("false")) => Some(Cell(0, 0, "bool", "0"))
              case _ => return None
            }
          case Some("date") =>
            DocxSource.attrValue(attrs, "office:date-value") match {
              case Some(Some(v)) => Some(Cell(0, 0, "date", v))
              case _ => return None
            }
          case Some(_) => return None // unknown value type: refuse
        }
        made match {
          case Some(c) =>
            if (rep > 10000) return None // non-empty repeat flood
            var k = 0
            while (k < rep) { out += Cell(0, col + k, c.kind, c.value); k += 1 }
          case None => ()
        }
        col += rep
        if (col > MaxGrid) return None // stacked-repeat overflow guard
        i = if (selfClosed) gt + 1
            else cellEnd + "</table:table-cell>".length
      } else {
        val gt = body.indexOf('>', i)
        if (gt < 0) return None
        i = gt + 1
      }
    }
    Some(out.result())
  }

  /** Full extraction for one .ods blob: ZIP walk → mimetype check →
    * content.xml → scanner. */
  def extractOds(fileName: String, bytes: Array[Byte]): Option[Seq[Cell]] = {
    val (members, clean) = ZipSource.parseZipRetain(fileName, bytes,
      n => n == ContentMember || n == MimetypeMember)
    if (!clean) return None
    val mime = members.collectFirst {
      case (e, p) if e.name == MimetypeMember && p != null =>
        new String(p, java.nio.charset.StandardCharsets.UTF_8)
    }
    if (!mime.contains(OdsMime)) return None
    members.collectFirst { case (e, p) if e.name == ContentMember && p != null => p }
      .flatMap(p => extractSpreadsheetXml(
        new String(p, java.nio.charset.StandardCharsets.UTF_8)))
  }

  // ───────────── deterministic fixture (one .ods per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101), the xlsx/odt kept-id scheme. The sheet
  // exercises every rule: typed values from attributes (the display
  // text deliberately LIES — a reader scraping <text:p> breaks the
  // checksum), empty-cell column repeats (positions must skip), a
  // covered cell under a merge, a row repeat materializing twice, a
  // 16384-wide empty padding trailer that must NOT materialize, and
  // entities in a string cell.

  def contentXml(id: Long): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
       |<office:body><office:spreadsheet>
       |<table:table table:name="Sheet1"><table:table-column table:number-columns-repeated="6"/>
       |<table:table-row><table:table-cell office:value-type="string"><text:p>Name &amp; ${id % 7}</text:p></table:table-cell><table:table-cell office:value-type="float" office:value="${id % 9}.25"><text:p>WRONG ${id % 3}</text:p></table:table-cell><table:table-cell table:number-columns-repeated="2"/><table:table-cell office:value-type="boolean" office:boolean-value="${if (id % 2 == 0) "true" else "false"}"/><table:table-cell office:value-type="date" office:date-value="2026-01-0${1 + id % 9}"/></table:table-row>
       |<table:table-row table:number-rows-repeated="2"><table:table-cell office:value-type="string"><text:p>Dup ${id % 5}</text:p></table:table-cell><table:table-cell/><table:table-cell office:value-type="float" office:value="${id % 4}.50"/><table:table-cell table:number-columns-repeated="16381"/></table:table-row>
       |<table:table-row><table:table-cell office:value-type="string"><text:p>Merged ${id % 6}</text:p></table:table-cell><table:covered-table-cell table:number-columns-repeated="2"/><table:table-cell office:value-type="float" office:value="${id % 8}.75"/></table:table-row>
       |</table:table>
       |</office:spreadsheet></office:body>
       |</office:document-content>
       |""".stripMargin

  /** The cell truth for doc `id` (the oracle rebuilds these exact
    * cells in SQL — it never sees an ods byte). */
  def odsExpected(id: Long): Seq[Cell] = Seq(
    Cell(1, 1, "text", s"Name & ${id % 7}"),
    Cell(1, 2, "num", s"${id % 9}.25"),
    Cell(1, 5, "bool", if (id % 2 == 0) "1" else "0"),
    Cell(1, 6, "date", s"2026-01-0${1 + id % 9}"),
    Cell(2, 1, "text", s"Dup ${id % 5}"),
    Cell(2, 3, "num", s"${id % 4}.50"),
    Cell(3, 1, "text", s"Dup ${id % 5}"),
    Cell(3, 3, "num", s"${id % 4}.50"),
    Cell(4, 1, "text", s"Merged ${id % 6}"),
    Cell(4, 4, "num", s"${id % 8}.75"))

  private val Manifest =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.2">
      |<manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.spreadsheet"/>
      |<manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/>
      |</manifest:manifest>
      |""".stripMargin

  /** One complete ODF package for doc `id` — mimetype FIRST and
    * STORED, manifest, content.xml DEFLATED (the OdtSource layout). */
  private[graft] def odsBytes(id: Long): Array[Byte] =
    ZipSource.archive(Seq(
      ZipSource.Member(MimetypeMember,
        OdsMime.getBytes("UTF-8"), deflate = false,
        descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member("META-INF/manifest.xml",
        Manifest.getBytes("UTF-8"), deflate = false,
        descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member(ContentMember,
        contentXml(id).getBytes("UTF-8"), deflate = true,
        descriptor = false, localExtra = Array.emptyByteArray)),
      comment = s"graft ods $id")

  /** Stage one `doc<id>.ods` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_ODS_V1", "doc", ".ods")(odsBytes)

  /** (doc_id, row, col, kind, value) over a directory of `.ods` files —
    * parse-as-filter, map-only (the xlsx/docx/odt family). */
  def extractedOds(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "doc", ".ods") { (id, name, bytes) =>
      extractOds(name, bytes).toSeq.flatten.map { c =>
        (id, c.row, c.col, c.kind, c.value)
      }
    }.toDF("doc_id", "row", "col", "kind", "value")
  }
}
