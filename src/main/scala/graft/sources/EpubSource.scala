package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** EPUB chapter extraction — the BOOK corpus container (long-form
  * public-domain and licensed book corpora ship as EPUB): a plain ZIP
  * (OCF, the EPUB Open Container Format) whose reading order is a
  * THREE-HOP indirection this reader walks exactly as the spec
  * (EPUB 3 / IDPF OCF+OPF, public) demands:
  *
  *   1. `META-INF/container.xml` names the OPF package document
  *      (`<rootfile full-path="…"/>`) — its location is NOT fixed;
  *   2. the OPF `<manifest>` maps item ids → hrefs (relative to the
  *      OPF's own directory) + media types;
  *   3. the OPF `<spine>` lists itemrefs — THE reading order. Chapter
  *      files' ZIP order and lexical href order are both wrong in
  *      general (front matter is often added last); the fixture makes
  *      each ordering distinct so a reader that walks the central
  *      directory, or sorts hrefs, pairs chapter indexes with the
  *      wrong content and breaks every checksum.
  *
  * Only spine items with media-type `application/xhtml+xml` contribute
  * text (a spine can reference images/SVG); the XHTML → visible-text
  * step is NOT re-implemented here — chapters come back as rows and
  * [[graft.operators.TextAnalysis.htmlToText]]'s codegen'd chain does
  * the markup strip, exactly as text_html_extract does (one HTML
  * semantics, two gates).
  *
  * Malformation returns None (parse-as-filter): corrupt ZIP, missing
  * container.xml / rootfile / OPF, a spine idref with no manifest
  * item, or a spine chapter file absent from the archive.
  *
  * Scale shape: one seekable-blob ZIP parse + tiny XML scans per book,
  * map-only through mapPartitions; the text strip is codegen'd
  * DataFrame expressions downstream (the pdf/docx/xlsx/pptx family).
  */
object EpubSource {

  private val ContainerPath = "META-INF/container.xml"

  /** Attribute value inside one tag string (the xlsx attr discipline —
    * attribute ORDER is never assumed). */
  private def attr(tag: String, name: String): Option[String] = {
    val at = tag.indexOf(s"""$name="""")
    if (at < 0) None
    else {
      val from = at + name.length + 2
      val to = tag.indexOf('"', from)
      if (to < 0) None else Some(tag.substring(from, to))
    }
  }

  /** Strip XML comments; None when one never closes (a truncated
    * package must REFUSE, not yield a partial chapter set). A
    * commented-out `<itemref/>` in a real OPF is dead markup — without
    * the strip it would count as a live spine entry. */
  private def stripComments(xml: String): Option[String] = {
    val sb = new StringBuilder
    var i = 0
    while (i < xml.length) {
      val c = xml.indexOf("<!--", i)
      if (c < 0) { sb ++= xml.substring(i); i = xml.length }
      else {
        sb ++= xml.substring(i, c)
        val e = xml.indexOf("-->", c + 4)
        if (e < 0) return None
        i = e + 3
      }
    }
    Some(sb.result())
  }

  /** All tags named exactly `name` (self-closed or not) in document
    * order, or None on a truncated tag (no closing '>'). The boundary
    * check matters: "<item" must not match "<itemref" (OPF has both). */
  private def tagsOf(xml: String, name: String): Option[Vector[String]] = {
    val out = Vector.newBuilder[String]
    val open = s"<$name"
    var i = xml.indexOf(open)
    while (i >= 0) {
      val after = i + open.length
      val boundary = after < xml.length && {
        val c = xml.charAt(after)
        c == ' ' || c == '>' || c == '/' || c == '\t' || c == '\n'
      }
      val gt = xml.indexOf('>', i)
      if (gt < 0) return None // truncated mid-tag: refuse, never partial
      if (boundary) out += xml.substring(i, gt + 1)
      i = xml.indexOf(open, gt)
    }
    Some(out.result())
  }

  /** The spine-ordered chapter list of one EPUB blob:
    * (chap_idx, href, xhtml string), or None on malformation.
    *
    * Three ZIP walks, not one: the chapter hrefs are unknown until the
    * OPF is read, and retaining EVERY member's payload on one pass
    * would hold the decompressed archive (images and fonts included)
    * in memory beside the blob. Pass 1 retains only container.xml,
    * pass 2 only the OPF, pass 3 exactly the spine's XHTML files —
    * all three are the same verified central-directory scan. */
  def extractEpub(fileName: String, bytes: Array[Byte]): Option[Vector[(Int, String, String)]] = {
    def utf8(p: Array[Byte]) = new String(p, java.nio.charset.StandardCharsets.UTF_8)
    def member(keep: String => Boolean): Option[Map[String, Array[Byte]]] = {
      val (ms, clean) = ZipSource.parseZipRetain(fileName, bytes, keep)
      if (!clean) None
      else Some(ms.collect { case (e, p) if p != null => e.name -> p }.toMap)
    }
    // Hop 1: container.xml → the OPF path.
    val pass1 = member(_ == ContainerPath).getOrElse(return None)
    val container = stripComments(utf8(
      pass1.getOrElse(ContainerPath, return None))).getOrElse(return None)
    val opfPath = tagsOf(container, "rootfile").getOrElse(return None)
      .headOption.flatMap(attr(_, "full-path")).getOrElse(return None)
    val opfDir = opfPath.lastIndexOf('/') match {
      case -1 => ""
      case k => opfPath.substring(0, k + 1)
    }
    // Hop 2: manifest id → (href, media-type), spine = the reading order.
    val pass2 = member(_ == opfPath).getOrElse(return None)
    val opfXml = stripComments(utf8(
      pass2.getOrElse(opfPath, return None))).getOrElse(return None)
    val items = tagsOf(opfXml, "item").getOrElse(return None).flatMap { t =>
      for (id <- attr(t, "id"); href <- attr(t, "href"))
        yield id -> (href, attr(t, "media-type").getOrElse(""))
    }.toMap
    val spine = tagsOf(opfXml, "itemref").getOrElse(return None).map(attr(_, "idref"))
    if (spine.isEmpty) return None
    // Resolve the spine to XHTML paths first; refuse dangling idrefs.
    val paths = Vector.newBuilder[(String, String)] // (href, archive path)
    for (idrefOpt <- spine) {
      val idref = idrefOpt.getOrElse(return None)
      val (href, mime) = items.getOrElse(idref, return None) // dangling idref: refuse
      if (mime == "application/xhtml+xml") paths += ((href, opfDir + href))
    }
    val resolved = paths.result()
    val wanted = resolved.map(_._2).toSet
    // Hop 3: retain exactly the spine's files.
    val pass3 = member(wanted).getOrElse(return None)
    val chapters = Vector.newBuilder[(Int, String, String)]
    resolved.zipWithIndex.foreach { case ((href, path), idx) =>
      val body = pass3.getOrElse(path, return None) // listed but absent: refuse
      chapters += ((idx, href, utf8(body)))
    }
    Some(chapters.result())
  }

  // ───────────── deterministic fixture (one .epub per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101). Three chapter files whose THREE orderings
  // all differ: ZIP central-directory order (alpha, intro, zeta —
  // staging order), lexical href order (alpha, intro, zeta) and SPINE
  // order (intro, zeta, alpha — the truth). Each chapter carries a
  // distinct content tag, so wrong pairing of index↔content breaks the
  // checksum even when the chapter COUNT is right. The spine also
  // references the cover image (media-type image/svg+xml) which must
  // contribute no text, and the manifest carries a CSS item the spine
  // never references.

  /** (href, content tag) in SPINE order. */
  val SpineChapters: Vector[(String, Int)] =
    Vector(("intro.xhtml", 7), ("zeta.xhtml", 3), ("alpha.xhtml", 1))

  def chapterXhtml(id: Long, tag: Int): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>
       |<html xmlns="http://www.w3.org/1999/xhtml"><head>
       |<style>p { margin: ${id % 5}px }</style>
       |</head><body>
       |<!-- decoy tags a naive strip trips on: </body> <p> -->
       |<p>Chap $tag alpha ${id % 9} &amp; beta.</p>
       |<p>Line ${id % 5} &lt;end&gt;.</p>
       |</body></html>
       |""".stripMargin

  /** The visible text of chapter `tag` for doc `id` — what
    * htmlToText's strip yields (style dropped with contents, comment
    * dropped, tags → spaces, entities decoded, whitespace collapsed). */
  def chapterExpected(id: Long, tag: Int): String =
    s"Chap $tag alpha ${id % 9} & beta. Line ${id % 5} <end>."

  private def opfXml: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<package xmlns="http://www.idpf.org/2007/opf" version="3.0">
      |<manifest>
      |<item id="c-intro" href="intro.xhtml" media-type="application/xhtml+xml"/>
      |<item id="c-zeta" href="zeta.xhtml" media-type="application/xhtml+xml"/>
      |<item id="c-alpha" href="alpha.xhtml" media-type="application/xhtml+xml"/>
      |<item id="cover" href="cover.svg" media-type="image/svg+xml"/>
      |<item id="css" href="style.css" media-type="text/css"/>
      |</manifest>
      |<spine><itemref idref="cover"/><itemref idref="c-intro"/><itemref idref="c-zeta"/><itemref idref="c-alpha"/></spine>
      |</package>
      |""".stripMargin

  private val ContainerXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container" version="1.0">
      |<rootfiles><rootfile full-path="OEBPS/content.opf" media-type="application/oebps-package+xml"/></rootfiles>
      |</container>
      |""".stripMargin

  /** One complete .epub for doc `id` — members staged in an order that
    * matches NEITHER the spine nor reverse-spine. */
  private[graft] def epubBytes(id: Long): Array[Byte] = {
    def m(name: String, content: String, deflate: Boolean) =
      ZipSource.Member(name, content.getBytes("UTF-8"), deflate,
        descriptor = false, localExtra = Array.emptyByteArray)
    ZipSource.archive(Seq(
      m("mimetype", "application/epub+zip", deflate = false),
      m(ContainerPath, ContainerXml, deflate = false),
      m("OEBPS/alpha.xhtml", chapterXhtml(id, 1), deflate = true),
      m("OEBPS/content.opf", opfXml, deflate = true),
      m("OEBPS/cover.svg", s"""<svg><text>never text $id</text></svg>""", deflate = false),
      m("OEBPS/intro.xhtml", chapterXhtml(id, 7), deflate = true),
      m("OEBPS/style.css", "p { color: black }", deflate = false),
      m("OEBPS/zeta.xhtml", chapterXhtml(id, 3), deflate = true)),
      comment = s"graft epub $id")
  }

  /** Stage one `book<id>.epub` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_EPUB_V1", "book", ".epub")(epubBytes)

  /** (doc_id, chap_idx, href, xhtml) rows over a directory of `.epub`
    * files — the container walk only; callers run htmlToText on the
    * xhtml column (codegen'd, the one HTML semantics in this repo). */
  def chapters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "book", ".epub") { (id, name, bytes) =>
      extractEpub(name, bytes).toSeq.flatten.map { case (idx, href, xhtml) =>
        (id, idx, href, xhtml)
      }
    }.toDF("doc_id", "chap_idx", "href", "xhtml")
  }
}
