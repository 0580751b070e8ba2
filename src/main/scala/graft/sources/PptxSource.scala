package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PPTX text extraction — the third OPC arrival format (slide decks
  * carry a real fraction of enterprise prose). A .pptx is a plain ZIP
  * whose `ppt/slides/slideN.xml` members carry DrawingML text bodies;
  * this reader composes the audited [[ZipSource]] walk with a hand
  * ECMA-376 Part 1 §21.1 (DrawingML) scanner and shares
  * [[DocxSource]]'s entity/text machinery.
  *
  * Rules:
  *  - slides are read in NUMERIC order of N — `slide10.xml` sorts
  *    after `slide2.xml` (the lexical-order trap every naive ZIP walk
  *    hits, because the central directory lists slide1, slide10,
  *    slide2); a slide boundary is a paragraph break;
  *  - a paragraph is `<a:p>`; run text `<a:t>` concatenates across
  *    formatting splits exactly as DOCX `<w:t>` does (preserve-trim
  *    does NOT apply — DrawingML has no xml:space rule; text is
  *    literal);
  *  - `<a:br/>` is an intra-paragraph newline;
  *  - `<a:fld>` FIELD runs (slide numbers, auto-dates) are rendering
  *    state, not prose: their cached `<a:t>` never reaches the text
  *    (the DOCX instrText discipline);
  *  - empty paragraphs drop; entities decode.
  *
  * Malformation returns None (parse-as-filter): corrupt ZIP, no slide
  * members, unterminated `<a:t>`/`<a:fld>`/comment, a paragraph open at
  * body end.
  *
  * Scale shape: pure per-document function through mapPartitions — one
  * ZIP parse + one forward scan per slide, map-only (the pdf/tex/md/
  * docx/xlsx family).
  */
object PptxSource {

  private val SlideRe = """ppt/slides/slide(\d+)\.xml""".r

  /** Extract (text, n_slides, n_paras) from one .pptx blob. */
  def extractPptx(fileName: String, bytes: Array[Byte]): Option[(String, Int, Int)] = {
    val (members, clean) = ZipSource.parseZipRetain(fileName, bytes,
      n => SlideRe.pattern.matcher(n).matches())
    if (!clean) return None
    val slides = members.collect {
      case (e, p) if p != null => e.name match {
        case SlideRe(n) => (n.toInt, p)
      }
    }.sortBy(_._1) // NUMERIC order — the central directory is lexical
    if (slides.isEmpty) return None
    val paras = Vector.newBuilder[String]
    var nParas = 0
    for ((_, slideBytes) <- slides) {
      val xml = new String(slideBytes, java.nio.charset.StandardCharsets.UTF_8)
      extractSlide(xml) match {
        case Some(ps) => ps.foreach { p => paras += p; nParas += 1 }
        case None => return None
      }
    }
    Some((paras.result().mkString("\n"), slides.size, nParas))
  }

  /** Paragraph texts of one slide's XML, or None on malformation. */
  private[graft] def extractSlide(xml: String): Option[Vector[String]] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inPara = false
    var i = 0
    val n = xml.length
    while (i < n) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) {
        if (inPara) return None // paragraph open at end of slide
        return Some(out.result())
      }
      i = lt
      if (xml.startsWith("<!--", i)) {
        val e = xml.indexOf("-->", i + 4)
        if (e < 0) return None
        i = e + 3
      } else if (xml.startsWith("<?", i)) {
        val e = xml.indexOf("?>", i + 2)
        if (e < 0) return None
        i = e + 2
      } else if (xml.startsWith("<a:p>", i) || xml.startsWith("<a:p ", i)) {
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') { i = gt + 1 } // attributed `<a:p …/>`:
        // a self-closed empty paragraph, drops (the bare `<a:p/>` falls to
        // the generic skip below).
        else {
          if (inPara) return None
          inPara = true
          cur.clear()
          i = gt + 1
        }
      } else if (xml.startsWith("</a:p>", i)) {
        if (!inPara) return None
        inPara = false
        val t = cur.result()
        if (t.nonEmpty) out += t
        i += 6
      } else if (inPara && xml.startsWith("<a:fld", i)) {
        // Field run: rendering state (slide number / date), never prose.
        val e = xml.indexOf("</a:fld>", i)
        if (e < 0) return None
        i = e + 8
      } else if (inPara && (xml.startsWith("<a:t>", i) || xml.startsWith("<a:t ", i))) {
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') { i = gt + 1 } // self-closed empty run
        else DocxSource.textTo(xml, gt + 1, "</a:t>") match {
          case Some((t, j)) => cur ++= t; i = j
          case None => return None
        }
      } else if (inPara && xml.startsWith("<a:br", i) && i + 5 < xml.length &&
                 (xml.charAt(i + 5) == '/' || xml.charAt(i + 5) == '>' ||
                  Character.isWhitespace(xml.charAt(i + 5)))) {
        // Line break, ALL the forms real PowerPoint emits: self-closed
        // `<a:br/>`, attributed self-closed `<a:br .../>`, and the open
        // form `<a:br><a:rPr .../></a:br>` (children are run formatting,
        // never prose). The boundary check keeps `<a:brX…>` out.
        cur += '\n'
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        if (xml.charAt(gt - 1) == '/') i = gt + 1
        else {
          val e = xml.indexOf("</a:br>", gt)
          if (e < 0) return None
          i = e + 7
        }
      } else {
        val gt = xml.indexOf('>', i)
        if (gt < 0) return None
        i = gt + 1
      }
    }
    if (inPara) return None
    Some(out.result())
  }

  // ───────────── deterministic fixture (one .pptx per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101). THREE slides numbered 1, 2 and 10 — the
  // numeric-vs-lexical ordering trap is load-bearing: a lexical walk
  // emits slide 10's text before slide 2's and the text checksum
  // breaks. Slide 1 exercises split runs + a field-run trap; slide 2
  // entities + a:br; slide 10 a plain tail line.

  def slideXml(id: Long, slide: Int): String = slide match {
    case 1 =>
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:p="p" xmlns:a="a"><p:cSld><p:spTree><p:sp><p:txBody>
         |<a:p><a:r><a:t>Deck ${id % 9}: </a:t></a:r><a:r><a:rPr b="1"/><a:t>bold ${id % 7}</a:t></a:r></a:p>
         |<a:p><a:fld id="{X}" type="slidenum"><a:t>1</a:t></a:fld><a:r><a:t>Intro ${id % 5}.</a:t></a:r></a:p>
         |<a:p/>
         |</p:txBody></p:sp></p:spTree></p:cSld></p:sld>
         |""".stripMargin
    case 2 =>
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:p="p" xmlns:a="a"><p:cSld><p:spTree><p:sp><p:txBody>
         |<a:p><a:r><a:t>Amp &amp; caf&#233; ${id % 4}</a:t></a:r><a:br/><a:r><a:t>line ${id % 3}</a:t></a:r></a:p>
         |</p:txBody></p:sp></p:spTree></p:cSld></p:sld>
         |""".stripMargin
    case 10 =>
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
         |<p:sld xmlns:p="p" xmlns:a="a"><p:cSld><p:spTree><p:sp><p:txBody>
         |<a:p><a:r><a:t>Closing ${id % 6}.</a:t></a:r></a:p>
         |</p:txBody></p:sp></p:spTree></p:cSld></p:sld>
         |""".stripMargin
    case other => sys.error(s"no fixture slide $other")
  }

  /** The prose truth for doc `id` (numeric slide order 1, 2, 10). */
  def pptxExpected(id: Long): String = Seq(
    s"Deck ${id % 9}: bold ${id % 7}",
    s"Intro ${id % 5}.",
    s"Amp & café ${id % 4}\nline ${id % 3}",
    s"Closing ${id % 6}.").mkString("\n")

  /** Paragraph count of the fixture deck (constant; the empty
    * paragraph and the field-only prefix never count). */
  val ExpectedParas: Int = 4

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/ppt/slides/slide1.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>
      |</Types>
      |""".stripMargin

  /** One complete .pptx package for doc `id` — slides stored in LEXICAL
    * central-directory order (slide1, slide10, slide2), as real writers
    * produce; the reader must re-sort numerically. */
  private[graft] def pptxBytes(id: Long): Array[Byte] =
    ZipSource.archive(Seq(
      ZipSource.Member("[Content_Types].xml", ContentTypes.getBytes("UTF-8"),
        deflate = false, descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member("ppt/slides/slide1.xml", slideXml(id, 1).getBytes("UTF-8"),
        deflate = true, descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member("ppt/slides/slide10.xml", slideXml(id, 10).getBytes("UTF-8"),
        deflate = false, descriptor = false, localExtra = Array.emptyByteArray),
      ZipSource.Member("ppt/slides/slide2.xml", slideXml(id, 2).getBytes("UTF-8"),
        deflate = true, descriptor = false, localExtra = Array.emptyByteArray)),
      comment = s"graft pptx $id")

  /** Stage one `deck<id>.pptx` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_PPTX_V1", "deck", ".pptx")(pptxBytes)

  /** (doc_id, text, n_slides, n_paras, n_chars) over a directory of
    * `.pptx` files — parse-as-filter, map-only. */
  def extractedPptx(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "deck", ".pptx") { (id, name, bytes) =>
      extractPptx(name, bytes).map { case (text, ns, np) =>
        (id, text, ns.toLong, np.toLong, text.length.toLong)
      }
    }.toDF("doc_id", "text", "n_slides", "n_paras", "n_chars")
  }
}
