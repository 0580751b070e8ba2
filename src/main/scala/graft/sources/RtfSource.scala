package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** RTF text extraction — the legacy interchange format a real document
  * corpus still carries in volume (every Word/Wordpad era export).
  * RTF is NOT a container: it is a 7-bit control-word text format
  * (`{\rtf1 ...}`, Microsoft RTF 1.9 spec), so this is a hand
  * recursive-state parser, not a ZIP walk — the PDF/TeX lineage rather
  * than the DOCX one.
  *
  * Parsing rules (RTF 1.9, deterministic):
  *  - a GROUP is `{ ... }`; state (destination-skip flag, \ucN count)
  *    saves on `{` and restores on `}` — formatting toggles inside a
  *    group never leak out;
  *  - a CONTROL WORD is `\letters` + optional signed integer + one
  *    optional terminating space (consumed); unknown control words are
  *    SKIPPED — that is the spec's own forward-compatibility rule
  *    (readers must ignore what they don't know), not a parse hole;
  *  - DESTINATIONS whose content is metadata, never prose —
  *    `\fonttbl \colortbl \stylesheet \info \header \footer \pict
  *    \fldinst` and every `{\*\...}` starred group — skip to their
  *    group close; `\fldrslt` (a field's RESULT) IS prose;
  *  - `\par` ends a paragraph ('\n' between non-empty paragraphs,
  *    empty ones drop), `\line` → '\n' inside one, `\tab` → '\t',
  *    `\~` (non-breaking space) → ' ', `\{ \} \\` are literals,
  *    `\emdash \endash \lquote \rquote \ldblquote \rdblquote \bullet`
  *    map to their Unicode characters;
  *  - `\'hh` decodes ONE byte as Windows-1252 (the RTF default): the
  *    0x80–0x9F rows use the published cp1252 table; the five
  *    UNDEFINED codepoints there (81 8D 8F 90 9D) refuse;
  *  - `\uN` emits the Unicode codepoint (negative N + 65536, the
  *    16-bit two's-complement rule) and then skips the current \ucN
  *    fallback count of text items (a plain char or one \'hh each);
  *  - `\binN` (embedded binary) refuses — byte payloads do not belong
  *    in a prose stream.
  *
  * Malformation returns None — the parse-as-filter contract: missing
  * `{\rtf` magic, unbalanced braces, a control sequence cut by EOF,
  * an unterminated `\'h`, an undefined cp1252 byte, `\bin`, or
  * non-whitespace after the final `}`.
  *
  * Scale shape: pure per-document function through mapPartitions —
  * one forward scan per file, map-only, no shuffle (the pdf/tex/docx
  * parse-as-filter family).
  */
object RtfSource {

  // The published Windows-1252 0x80–0x9F row (Unicode mappings);
  // -1 marks the five undefined codepoints, which REFUSE.
  private val Cp1252High: Array[Int] = Array(
    0x20AC, -1, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
    0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, -1, 0x017D, -1,
    -1, 0x2018, 0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014,
    0x02DC, 0x2122, 0x0161, 0x203A, 0x0153, -1, 0x017E, 0x0178)

  private def cp1252(b: Int): Option[Char] =
    if (b < 0x80 || b > 0x9F) Some(b.toChar)
    else Cp1252High(b - 0x80) match {
      case -1 => None
      case u => Some(u.toChar)
    }

  /** Destination control words whose group content never reaches
    * prose. (`fldinst` is a field's INSTRUCTION; `fldrslt`, its
    * rendered result, is prose and deliberately absent here.) */
  private val SkipDests = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "header", "footer",
    "headerl", "headerr", "headerf", "footerl", "footerr", "footerf",
    "pict", "fldinst")

  private val CharWords = Map(
    "line" -> '\n',
    "tab" -> '\t',
    "emdash" -> '—', "endash" -> '–',
    "lquote" -> '‘', "rquote" -> '’',
    "ldblquote" -> '“', "rdblquote" -> '”',
    "bullet" -> '•')

  /** Extract (prose text, n_paras) from RTF bytes, or None on
    * malformation. See the object doc for the rules. */
  private[graft] def extractRtfText(s: String): Option[(String, Int)] = {
    if (!s.startsWith("{\\rtf")) return None
    val paras = Seq.newBuilder[String]
    var nParas = 0
    val cur = new StringBuilder
    def endPara(): Unit = {
      val t = cur.result()
      if (t.nonEmpty) { paras += t; nParas += 1 }
      cur.clear()
    }
    // Per-group state: (skipDepth-active?, uc). Skip is modeled as the
    // stack depth below which we emit — a skipped destination sets
    // `skipUntil` to the current depth; everything until its close drops.
    var depth = 0
    var skipUntil = -1 // depth at which a skip ends; -1 = not skipping
    var uc = 1
    val ucStack = scala.collection.mutable.ArrayBuffer.empty[Int]
    var pendingUcSkip = 0 // text items to drop after \uN
    def emitting = skipUntil < 0
    // A plain char or a \'hh escape is one "text item": it lands in the
    // paragraph, or burns one \uN fallback slot if a skip is pending.
    def emit(c: Char): Unit =
      if (emitting) {
        if (pendingUcSkip > 0) pendingUcSkip -= 1
        else cur += c
      }
    def parBreak(): Unit = if (emitting) endPara()
    var i = 0
    val n = s.length
    var closed = false // the document group has closed
    while (i < n) {
      if (closed) {
        // Only whitespace may trail the final '}' — anything else is a
        // torn/concatenated document.
        if (!Character.isWhitespace(s.charAt(i))) return None
        i += 1
      } else s.charAt(i) match {
        case '{' =>
          depth += 1; ucStack += uc; i += 1
          // A starred group `{\*\word ...}` is an unknown-extension
          // destination: skip unless already skipping deeper.
          if (emitting && s.startsWith("\\*", i)) skipUntil = depth
        case '}' =>
          if (depth == 0) return None // unbalanced
          if (skipUntil == depth) skipUntil = -1
          uc = ucStack.remove(ucStack.length - 1)
          depth -= 1
          if (depth == 0) closed = true
          i += 1
        case '\\' =>
          if (i + 1 >= n) return None // control sequence cut by EOF
          val c1 = s.charAt(i + 1)
          if (c1 == '\'') {
            if (i + 3 >= n) return None
            val hex = s.substring(i + 2, i + 4)
            if (!hex.forall(ch => Character.digit(ch, 16) >= 0)) return None
            cp1252(Integer.parseInt(hex, 16)) match {
              case Some(ch) => emit(ch)
              case None => return None // undefined cp1252 byte
            }
            i += 4
          } else if (c1 == '{' || c1 == '}' || c1 == '\\') {
            emit(c1); i += 2
          } else if (c1 == '~') {
            emit(' '); i += 2
          } else if (c1 == '\r' || c1 == '\n') {
            // Spec rule: backslash followed by CR/LF is EQUIVALENT to
            // \par (the form Word-era writers emit as their paragraph
            // delimiter) — dropping it as an unknown symbol would merge
            // paragraphs, garbling valid prose (round-20 review
            // finding). \<CR><LF> is ONE \par.
            parBreak()
            i += (if (c1 == '\r' && i + 2 < n && s.charAt(i + 2) == '\n') 3 else 2)
          } else if (c1 == '*') {
            i += 2 // starred-destination marker (group already skipping)
          } else if (c1.isLetter) {
            var j = i + 1
            while (j < n && s.charAt(j).isLetter) j += 1
            val word = s.substring(i + 1, j)
            var param: Option[Int] = None
            if (j < n && (s.charAt(j) == '-' || s.charAt(j).isDigit)) {
              val neg = s.charAt(j) == '-'
              var k = if (neg) j + 1 else j
              val k0 = k
              while (k < n && s.charAt(k).isDigit) k += 1
              if (k == k0 || k - k0 > 9) return None
              param = Some((if (neg) -1 else 1) * s.substring(k0, k).toInt)
              j = k
            }
            if (j < n && s.charAt(j) == ' ') j += 1 // delimiter space consumed
            word match {
              case "bin" => return None // binary payload in a prose stream
              case "uc" => uc = param.getOrElse(1).max(0)
              case "u" =>
                param match {
                  case None => return None
                  case Some(p) =>
                    val cp = if (p < 0) p + 65536 else p
                    if (cp < 0 || cp > 0xFFFF) return None
                    if (emitting) {
                      if (pendingUcSkip > 0) pendingUcSkip -= 1
                      else { cur += cp.toChar; pendingUcSkip = uc }
                    }
                }
              case "par" => parBreak()
              case w if CharWords.contains(w) => emit(CharWords(w))
              case w if SkipDests.contains(w) =>
                if (emitting) skipUntil = depth
              case _ => () // unknown control word: spec-mandated skip
            }
            i = j
          } else i += 2 // unknown control SYMBOL: spec-mandated ignore
        case '\n' | '\r' => i += 1 // raw line breaks are NOT prose in RTF
        case ch =>
          if (depth == 0) return None // prose outside the document group
          emit(ch)
          i += 1
      }
    }
    if (!closed) return None // document group never closed
    endPara() // an unterminated final paragraph still flushes
    Some((paras.result().mkString("\n"), nParas))
  }

  /** Full extraction for one .rtf blob (RTF is 7-bit ASCII with
    * escapes; the bytes decode as ISO-8859-1 so \'hh survives). */
  def extractRtf(fileName: String, bytes: Array[Byte]): Option[(String, Int)] =
    extractRtfText(new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1))

  // ───────────── deterministic fixture (one .rtf per kept doc) ─────────────
  // Doc ids ≡ 0 (mod 101) become .rtf files (the docx kept-id scheme).
  // The document exercises every rule above: header destinations
  // (fonttbl/colortbl/stylesheet/info + a starred generator group)
  // skipped, formatting toggles ignored, split runs across groups,
  // cp1252 and \u escapes (with \uc1 fallback skip), a field whose
  // instruction is skipped and result kept, \par/\line/\tab/\~, and
  // literal brace escapes.

  /** The RTF document for doc `id` — built by hand so the staged bytes
    * are engine-neutral ground truth. */
  def rtfDoc(id: Long): String =
    s"""{\\rtf1\\ansi\\deff0
       |{\\fonttbl{\\f0\\froman Times New Roman;}{\\f1\\fswiss Arial;}}
       |{\\colortbl;\\red255\\green0\\blue0;}
       |{\\stylesheet{\\s1 Heading;}}
       |{\\info{\\title secret title $id}{\\author nobody}}
       |{\\*\\generator graft fixture;}
       |\\pard\\s1\\b Title ${id % 7}\\b0  and \\i tail\\i0  ${id % 5}.\\par
       |\\pard Caf\\'e9 em\\emdash dash \\u233?e \\u8364?X.\\par
       |A${id % 5}\\tab B${id % 3}\\line C${id % 9}\\par
       |{\\field{\\*\\fldinst PAGE \\\\* MERGEFORMAT}{\\fldrslt Page ${id % 4}}} of doc.\\par
       |Brace \\{x\\} and nb\\~space ${id % 6}.\\par
       |\\pard Last ${id % 8}\\par
       |}""".stripMargin

  /** The prose truth for doc `id` (the oracle rebuilds these exact
    * lines in SQL — it never sees an rtf byte). */
  def rtfExpected(id: Long): String = Seq(
    s"Title ${id % 7} and tail ${id % 5}.",
    s"Café em—dash ée €X.",
    s"A${id % 5}\tB${id % 3}\nC${id % 9}",
    s"Page ${id % 4} of doc.",
    s"Brace {x} and nb space ${id % 6}.",
    s"Last ${id % 8}").mkString("\n")

  /** Paragraph count of the fixture document (constant). */
  val ExpectedParas: Int = 6

  /** Stage one `doc<id>.rtf` per kept doc. Returns the dir. */
  def stageFixture(spark: SparkSession, dataDir: String, dir: String): String =
    graft.Stage.keptDocs(spark, dataDir, dir, "_STAGED_RTF_V1", "doc", ".rtf")(
      rtfDoc(_).getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  /** (doc_id, text, n_paras, n_chars) over a directory of `.rtf`
    * files — parse-as-filter, map-only (the docx/pdf/tex family). */
  def extractedRtf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    FileSources.docFiles(spark, dir, "doc", ".rtf") { (id, name, bytes) =>
      extractRtf(name, bytes).map { case (text, np) =>
        (id, text, np.toLong, text.length.toLong)
      }
    }.toDF("doc_id", "text", "n_paras", "n_chars")
  }
}
