package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** XLSX cell extraction — the OTHER dominant OPC arrival format
  * (enterprise tabular data ships as spreadsheets; a curation engine
  * that reads CSV but not .xlsx loses the same tables one save-as
  * away). Like [[DocxSource]], an .xlsx is a plain ZIP (ECMA-376
  * Part 2) whose SpreadsheetML members this reader composes out of the
  * audited [[ZipSource]] walk and a hand scanner built from the public
  * ECMA-376 Part 1 §18 rules.
  *
  * The format's load-bearing indirection: string cells do NOT carry
  * their text. A cell `<c r="A1" t="s"><v>17</v></c>` stores INDEX 17
  * into `xl/sharedStrings.xml` (the workbook-global string table that
  * makes real spreadsheets small); a reader that treats `<v>` as the
  * value emits row numbers instead of text. The scanner resolves:
  *  - `t="s"` — shared string by index (rich-text runs inside an
  *    `<si>` concatenate their `<t>` pieces; `xml:space="preserve"`
  *    governs edge whitespace exactly as in DOCX);
  *  - `t="inlineStr"` — literal text in `<is><t>…</t></is>`;
  *  - `t="str"` — a formula's cached STRING result in `<v>`;
  *  - `t="b"` — boolean 0/1;
  *  - no `t` (or `t="n"`) — numeric text in `<v>`;
  *  - a `<f>` FORMULA element is configuration, never data: the
  *    extractor takes the cached `<v>` beside it and drops the
  *    formula text (re-evaluation is an engine's job, not a reader's);
  *  - cells with no value (`<c r="D1"/>`) are empty and skipped.
  * Cell references (`r="AB12"`) decode to (row, col) with the
  * bijective base-26 column rule (A=1 … Z=26, AA=27).
  *
  * Malformation returns None (the parse-as-filter contract): corrupt
  * ZIP, missing worksheet member, a `t="s"` index outside the shared
  * table, an unparsable cell reference, unterminated elements, or a
  * shared-strings table referenced but absent.
  *
  * Scale shape: pure per-document function through mapPartitions — one
  * seekable-blob ZIP parse + two forward XML scans per file, map-only
  * (the pdf/tex/md/docx parse-as-filter family).
  */
object XlsxSource {

  private val SheetMember = "xl/worksheets/sheet1.xml"
  private val SharedMember = "xl/sharedStrings.xml"

  /** One extracted cell: 1-based row, 1-based column index, the A1-style
    * reference, kind ∈ {text, num, bool}, and the value as a string
    * (decoded text / numeric literal / "0"|"1"). */
  case class Cell(row: Int, col: Int, ref: String, kind: String, value: String)

  /** A1-style reference → (row, col); None on malformation. */
  private[sources] def parseRef(ref: String): Option[(Int, Int)] = {
    var i = 0
    var col = 0
    while (i < ref.length && ref.charAt(i) >= 'A' && ref.charAt(i) <= 'Z') {
      col = col * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    if (i == 0 || i == ref.length) return None
    var row = 0
    while (i < ref.length) {
      val c = ref.charAt(i)
      if (c < '0' || c > '9') return None
      row = row * 10 + (c - '0')
      i += 1
    }
    if (row < 1) None else Some((row, col))
  }

  /** Parse `xl/sharedStrings.xml`: one entry per `<si>`, rich-text runs
    * concatenated, xml:space honored. None on malformation. */
  private[graft] def parseSharedStrings(xml: String): Option[Vector[String]] = {
    val out = Vector.newBuilder[String]
    var i = xml.indexOf("<si>")
    while (i >= 0) {
      val end = xml.indexOf("</si>", i)
      if (end < 0) return None
      val sb = new StringBuilder
      var j = i
      var bad = false
      while (!bad && j < end) {
        val t = xml.indexOf("<t", j)
        if (t < 0 || t >= end) j = end
        else {
          val gt = xml.indexOf('>', t)
          if (gt < 0 || gt >= end) bad = true
          else if (xml.charAt(gt - 1) == '/') j = gt + 1 // <t/>: empty run
          else DocxSource.spacePreserve(xml.substring(t, gt)) match {
            case None => bad = true // xml:space present but unparsable
            case Some(preserve) =>
              DocxSource.textTo(xml, gt + 1, "</t>") match {
                case Some((s, k)) => sb ++= (if (preserve) s else s.trim); j = k
                case None => bad = true
              }
          }
        }
      }
      if (bad) return None
      out += sb.result()
      i = xml.indexOf("<si>", end)
    }
    Some(out.result())
  }

  /** Scan one worksheet's cells against the shared-string table. */
  private[graft] def parseSheet(xml: String,
      shared: Vector[String]): Option[Vector[Cell]] = {
    val out = Vector.newBuilder[Cell]
    var i = xml.indexOf("<sheetData")
    if (i < 0) return None
    val end = xml.indexOf("</sheetData>", i)
    if (end < 0) return None
    // Cells WITHOUT attributes (`<c>…`) are legal SpreadsheetML — the
    // r reference is optional (§18.3.1.4) and position then inherits
    // from document order. Positional inheritance is out of scope, so
    // such a workbook REFUSES loudly instead of silently dropping its
    // r-less cells (the parse-as-filter contract: refuse, never garble).
    val bare = xml.indexOf("<c>", i)
    if (bare >= 0 && bare < end) return None
    i = xml.indexOf("<c ", i)
    while (i >= 0 && i < end) {
      val gt = xml.indexOf('>', i)
      if (gt < 0) return None
      val attrs = xml.substring(i, gt)
      def attr(name: String): Option[String] = {
        val at = attrs.indexOf(s"""$name="""")
        if (at < 0) None
        else {
          val from = at + name.length + 2
          val to = attrs.indexOf('"', from)
          if (to < 0) None else Some(attrs.substring(from, to))
        }
      }
      val refStr = attr("r").getOrElse(return None)
      val (row, col) = parseRef(refStr).getOrElse(return None)
      val t = attr("t").getOrElse("n")
      if (attrs.endsWith("/")) {
        // Empty cell (<c r="D1"/>): skipped, not a zero.
        i = xml.indexOf("<c ", gt)
      } else {
        val cEnd = xml.indexOf("</c>", gt)
        if (cEnd < 0 || cEnd > end) return None
        val body = xml.substring(gt + 1, cEnd)
        def vOf: Option[String] = {
          val v = body.indexOf("<v>")
          if (v < 0) None
          else DocxSource.textTo(body, v + 3, "</v>").map(_._1)
        }
        val cell: Option[Cell] = t match {
          case "s" =>
            vOf.flatMap(idx => idx.trim.toIntOption)
              .filter(ix => ix >= 0 && ix < shared.length)
              .map(ix => Cell(row, col, refStr, "text", shared(ix)))
          case "inlineStr" =>
            val is = body.indexOf("<is>")
            if (is < 0) None
            else {
              val tAt = body.indexOf("<t", is)
              if (tAt < 0) None
              else {
                val tgt = body.indexOf('>', tAt)
                if (tgt < 0) None
                else DocxSource.spacePreserve(body.substring(tAt, tgt)).flatMap {
                  preserve =>
                    DocxSource.textTo(body, tgt + 1, "</t>")
                      .map { case (s, _) =>
                        Cell(row, col, refStr, "text", if (preserve) s else s.trim) }
                }
              }
            }
          case "str" => vOf.map(v => Cell(row, col, refStr, "text", v))
          case "b" =>
            vOf.map(_.trim).filter(v => v == "0" || v == "1")
              .map(v => Cell(row, col, refStr, "bool", v))
          case "n" =>
            vOf.map(v => Cell(row, col, refStr, "num", v.trim))
          case _ => return None // unknown cell type: loud, never guessed
        }
        cell match {
          case Some(c) => out += c
          case None => return None // malformed cell: refuse the document
        }
        i = xml.indexOf("<c ", cEnd)
      }
    }
    Some(out.result())
  }

  /** Full extraction for one .xlsx blob. */
  def extractXlsx(fileName: String, bytes: Array[Byte]): Option[Vector[Cell]] = {
    val (members, clean) = ZipSource.parseZipRetain(fileName, bytes,
      n => n == SheetMember || n == SharedMember)
    if (!clean) return None
    val byName = members.collect { case (e, p) if p != null => e.name -> p }.toMap
    val sheetBytes = byName.getOrElse(SheetMember, return None)
    val shared = byName.get(SharedMember) match {
      case Some(p) => parseSharedStrings(
        new String(p, java.nio.charset.StandardCharsets.UTF_8)).getOrElse(return None)
      case None => Vector.empty[String] // legal: a workbook with no strings
    }
    parseSheet(new String(sheetBytes, java.nio.charset.StandardCharsets.UTF_8), shared)
  }

  // ───────────── deterministic fixture (one .xlsx per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101), the docx/ipynb kept-id scheme. The sheet
  // exercises every rule: both shared entries (one with entities and a
  // preserved leading space), an inline string, a numeric cell, a
  // FORMULA cell whose cached value must be taken (and whose formula
  // text must not leak), a boolean, a negative integer, an empty cell
  // that must be skipped, and a two-letter AA column reference.

  def sheetXml(id: Long): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
       |<sheetData>
       |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>${id % 100}.25</v></c><c r="D1"/><c r="AA1"><v>${id % 3}</v></c></row>
       |<row r="2"><c r="A2" t="inlineStr"><is><t>inline ${id % 5}</t></is></c><c r="B2"><f>B1*2</f><v>${id % 50}.5</v></c><c r="C2" t="b"><v>${id % 2}</v></c></row>
       |<row r="3"><c r="A3" t="s"><v>1</v></c><c r="C3"><v>-${id % 7}</v></c></row>
       |</sheetData>
       |</worksheet>
       |""".stripMargin

  def sharedXml(id: Long): String =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
       |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
       |<si><t>Name ${id % 9}</t></si>
       |<si><r><t xml:space="preserve"> Caf&#233; &amp; co </t></r><r><t>${id % 4}</t></r></si>
       |</sst>
       |""".stripMargin

  /** The expected cells for doc `id` — the closed-form truth the spec
    * and oracle rebuild. */
  def expectedCells(id: Long): Vector[Cell] = Vector(
    Cell(1, 1, "A1", "text", s"Name ${id % 9}"),
    Cell(1, 2, "B1", "num", s"${id % 100}.25"),
    Cell(1, 27, "AA1", "num", s"${id % 3}"),
    Cell(2, 1, "A2", "text", s"inline ${id % 5}"),
    Cell(2, 2, "B2", "num", s"${id % 50}.5"),
    Cell(2, 3, "C2", "bool", s"${id % 2}"),
    Cell(3, 1, "A3", "text", s" Café & co ${id % 4}"),
    Cell(3, 3, "C3", "num", s"-${id % 7}"))

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
      |</Types>
      |""".stripMargin

  /** One complete .xlsx package for doc `id` (sheet deflated, shared
    * strings stored — both ZIP methods on the data path). */
  private[graft] def xlsxBytes(id: Long): Array[Byte] =
    ZipSource.archive(Seq(
      ZipSource.Member("[Content_Types].xml", ContentTypes.getBytes("UTF-8"),
        deflate = false, descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member(SharedMember, sharedXml(id).getBytes("UTF-8"),
        deflate = false, descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member(SheetMember, sheetXml(id).getBytes("UTF-8"),
        deflate = true, descriptor = false, localExtra = Array.emptyByteArray)),
      comment = s"graft xlsx $id")

  /** Stage one `sheet<id>.xlsx` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_XLSX_V1", "sheet", ".xlsx")(xlsxBytes)

  /** (doc_id, row, col, ref, kind, value) over a directory of `.xlsx`
    * files — parse-as-filter, map-only. */
  def extractedXlsx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "sheet", ".xlsx") { (id, name, bytes) =>
      extractXlsx(name, bytes).toSeq.flatten.map(c =>
        (id, c.row, c.col, c.ref, c.kind, c.value))
    }.toDF("doc_id", "row", "col", "ref", "kind", "value")
  }
}
