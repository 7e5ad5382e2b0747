package graft.lib

import graft.model.DocStructure
import Py._

/** Structure detection + line-machine formatters [EQ].
  *
  * The reference's "reading-order reconstruction": one string in →
  * lines → sequential state machine → string out
  * (reference: lib/text_processing.py:1152-1780). Implemented as pure
  * Scala functions applied per turn inside `mapPartitions` — byte-exact
  * with the Python originals (SURVEY.md §2.5).
  */
object Formatters {

  // --- detect_document_structure (text_processing.py:1212-1259) ---------

  private val pTableRow = compile("(?:^|\\n)[\\w\\s]+\\|[\\w\\s]+\\|")
  private val pFormField = compile("(?:^|\\n)[\\w\\s]+:")
  private val pHeaderLine = compile("(?:^|\\n)[A-Z][A-Z\\s]+(?:\\n|$)")
  private val pParaBreak = compile("\\n\\s*\\n")

  def detectDocumentStructure(text: String): String = {
    // Counts are pure functions of `text`, so they can be computed
    // lazily in decision order and hand-fused where the regex is
    // line-anchored — identical results, fewer full-string scans
    // (this runs twice per turn on the live path).
    // each count's regex is gated on an exact literal prerequisite of
    // its (case-sensitive) pattern \u2014 a false gate means 0 matches
    lazy val bulletCount = countLineStarts(text, c => c == '\u2022' || c == '-' || c == '*' || c == '+')
    lazy val numberedCount = countNumberedLineStarts(text)
    lazy val tableRowCount =
      if (text.indexOf('|') < 0) 0 else countMatches(pTableRow, text)
    lazy val formFieldCount =
      if (text.indexOf(':') < 0) 0 else countMatches(pFormField, text)
    lazy val headerCount =
      if (!hasAsciiUpper(text)) 0 else countMatches(pHeaderLine, text)
    lazy val paragraphCount = {
      val first = text.indexOf('\n')
      if (first < 0 || text.indexOf('\n', first + 1) < 0) 0
      else countMatches(pParaBreak, text)
    }
    lazy val formulaCount = countFormulaHits(text)

    val lines = splitLines(text)
    if (lines.length > 10) {
      val shortLineCount = lines.count { l => val n = strip(l).length; n > 5 && n < 40 }
      if (shortLineCount > lines.length * 0.6) return DocStructure.MultiColumn
    }
    if (tableRowCount > 5) DocStructure.Table
    else if (bulletCount + numberedCount > 5) DocStructure.BulletPoints
    else if (formFieldCount > 5) DocStructure.Form
    else if (headerCount > 2 && paragraphCount > 1) DocStructure.HeadersAndContent
    else if (paragraphCount > 1) DocStructure.Paragraphs
    else if (formulaCount > 3) DocStructure.Scientific
    else if (strip(text).length < 100) DocStructure.PlainText
    else DocStructure.Mixed
  }

  /** count of `(?:^|\n)<c>` matches — one per line starting with c. */
  private def hasAsciiUpper(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 'A' && c <= 'Z') return true
      i += 1
    }
    false
  }

  private def countLineStarts(text: String, isMark: Char => Boolean): Int = {
    var n = 0
    var i = 0
    while (i < text.length) {
      if ((i == 0 || text.charAt(i - 1) == '\n') && isMark(text.charAt(i))) n += 1
      i += 1
    }
    n
  }

  /** count of `(?:^|\n)\d+[\.\)]` matches (Python \d = Nd code points). */
  private def countNumberedLineStarts(text: String): Int = {
    var n = 0
    var i = 0
    while (i < text.length) {
      if (i == 0 || text.charAt(i - 1) == '\n') {
        var j = i
        var digits = 0
        var cont = true
        while (j < text.length && cont) {
          val cp = text.codePointAt(j)
          if (Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER) {
            digits += 1; j += Character.charCount(cp)
          } else cont = false
        }
        if (digits > 0 && j < text.length &&
            (text.charAt(j) == '.' || text.charAt(j) == ')')) n += 1
      }
      i += 1
    }
    n
  }

  /** count of the formula-indicator pattern matches (single operator
    * chars or sqrt/sin/cos/tan/log) — exact non-overlapping
    * alternation-order scan. */
  private[lib] def countFormulaHits(text: String): Int = {
    var n = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '=' || c == '+' || c == '-' || c == '*' || c == '/' || c == '^') {
        n += 1; i += 1
      } else if (text.startsWith("sqrt", i)) { n += 1; i += 4 }
      else if (text.startsWith("sin", i)) { n += 1; i += 3 }
      else if (text.startsWith("cos", i)) { n += 1; i += 3 }
      else if (text.startsWith("tan", i)) { n += 1; i += 3 }
      else if (text.startsWith("log", i)) { n += 1; i += 3 }
      else i += 1
    }
    n
  }

  // --- format_text dispatch (text_processing.py:1152-1210) --------------

  private val pCharWhitelist = compile("[^\\w\\s.!?,;:()\"'•\\-\\n]")

  /** Transcript payloads carry no positional layout info, so the
    * layout-driven branches collapse to text-based detection
    * (layout_info=None path). */
  def formatText(text: String): String = formatTextWithStructure(text)._1

  /** formatText plus the structure detected on the INPUT text — lets the
    * caller skip the enrichment-stage re-detection when formatting turned
    * out to be the identity (the reference recomputes on the formatted
    * text, smartglass_ocr.py:1223, so the value may only be reused when
    * output == input). */
  def formatTextWithStructure(text: String): (String, String) = {
    if (text == null || text.isEmpty) return ("", null)
    val structure = detectDocumentStructure(text)
    val formatted = structure match {
      case DocStructure.PlainText => formatPlainText(text)
      case DocStructure.Paragraphs => formatParagraphs(text)
      case DocStructure.HeadersAndContent => formatHeadersAndContent(text)
      case DocStructure.BulletPoints => formatBulletPoints(text)
      case DocStructure.Table => formatTable(text)
      case DocStructure.Form => formatForm(text)
      case DocStructure.MultiColumn => formatMultiColumn(text)
      case DocStructure.Scientific => formatScientific(text)
      case _ => defaultFormatting(text)
    }
    (strip(subLit(pCharWhitelist, "", formatted)), structure)
  }

  // --- _format_plain_text (:1261-1273) -----------------------------------

  def formatPlainText(text: String): String =
    splitLines(text).map(strip).filter(_.nonEmpty).mkString("\n")

  // --- _format_paragraphs (:1275-1316), no-layout path -------------------

  def formatParagraphs(text: String): String = {
    val paragraphs = Vector.newBuilder[String]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.isEmpty) {
        if (current.nonEmpty) { paragraphs += current.mkString(" "); current.clear() }
      } else current += line
    }
    if (current.nonEmpty) paragraphs += current.mkString(" ")
    paragraphs.result().mkString("\n\n")
  }

  // --- _format_headers_and_content (:1318-1385) ---------------------------

  private val pAllCaps = compile("^[A-Z][A-Z\\s]+")
  private val pTitleCase = compile("^[A-Z][a-z]+(?:\\s+[A-Z][a-z]+){0,3}")

  def formatHeadersAndContent(text: String): String = {
    val lines = splitLines(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      val line = strip(lines(i))
      if (line.isEmpty) { out += ""; i += 1 }
      else {
        var isHeader = false
        if (rmatch(pAllCaps, line).isDefined || rmatch(pTitleCase, line).isDefined)
          isHeader = true
        else if (i < lines.length - 1 && strip(lines(i + 1)).isEmpty)
          isHeader = true
        if (isHeader) {
          out += ""; out += line; out += ""
          i += 1
          val content = scala.collection.mutable.ArrayBuffer.empty[String]
          while (i < lines.length &&
                 (strip(lines(i)).isEmpty || rmatch(pAllCaps, strip(lines(i))).isEmpty)) {
            if (strip(lines(i)).nonEmpty) content += strip(lines(i))
            i += 1
          }
          if (content.nonEmpty) out += content.mkString(" ")
        } else { out += line; i += 1 }
      }
    }
    out.mkString("\n")
  }

  // --- _format_bullet_points (:1387-1434) ---------------------------------

  private val pBulletItem = compile("^([•\\-*+]|\\d+[\\.\\)])(.+)")
  private val pBulletStart = compile("^([•\\-*+]|\\d+[\\.\\)])")
  private val stdBullets = Set("•", "1.", "2.", "3.", "4.", "5.", "6.", "7.", "8.", "9.")

  def formatBulletPoints(text: String): String = {
    val lines = splitLines(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      val line = strip(lines(i))
      if (line.isEmpty) { out += ""; i += 1 }
      else rmatch(pBulletItem, line) match {
        case Some(m) =>
          val bullet0 = m.group(1)
          val content = strip(m.group(2))
          val bullet = if (stdBullets.contains(bullet0)) bullet0 else "•"
          out += s"$bullet $content"
          i += 1
          while (i < lines.length && strip(lines(i)).nonEmpty &&
                 rmatch(pBulletStart, strip(lines(i))).isEmpty) {
            out += s"  ${strip(lines(i))}"
            i += 1
          }
        case None => out += line; i += 1
      }
    }
    out.mkString("\n")
  }

  // --- _format_table (:1436-1545) ------------------------------------------

  private val pSpaceCols = compile("\\S+\\s{2,}\\S+")
  private val pGap2 = compile("\\s{2,}")

  /** Python str.lstrip() (unicode whitespace). */
  private def lstrip(s: String): String = {
    var i = 0
    while (i < s.length && isSpaceCp(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
    s.substring(i)
  }

  def formatTable(text: String): String = {
    val lines = splitLines(text)
    val tableLines = scala.collection.mutable.ArrayBuffer.empty[String]
    for (raw <- lines) {
      val line = strip(raw)
      if (line.nonEmpty &&
          (line.contains('|') || line.contains('\t') || search(pSpaceCols, line).isDefined))
        tableLines += line
    }
    if (tableLines.isEmpty) return text
    val formatted = scala.collection.mutable.ArrayBuffer.empty[String]
    val hasPipe = tableLines.exists(_.contains('|'))
    if (!hasPipe) {
      val boundaryLists = tableLines.take(math.min(5, tableLines.length))
        .map(l => finditer(pGap2, l).map(_.start)).filter(_.nonEmpty)
      if (boundaryLists.nonEmpty) {
        val all = boundaryLists.flatten.sorted
        val common = scala.collection.mutable.ArrayBuffer.empty[Int]
        var group = scala.collection.mutable.ArrayBuffer(all.head)
        for (pos <- all.tail) {
          if (pos - group.last < 3) group += pos
          else { common += group.sum / group.length; group = scala.collection.mutable.ArrayBuffer(pos) }
        }
        if (group.nonEmpty) common += group.sum / group.length
        for (line <- tableLines) {
          var fl = line
          for (b <- common.reverseIterator if b < line.length)
            fl = fl.substring(0, b) + " | " + lstrip(fl.substring(b))
          formatted += fl
        }
      } else formatted ++= tableLines
    } else {
      for (line <- tableLines)
        formatted += split(line, '|').map(strip).mkString(" | ")
    }
    if (formatted.length > 1) {
      val header = formatted(0)
      val sep =
        if (header.contains('|')) split(header, '|').map(p => "-" * strip(p).length).mkString("|")
        else "-" * header.length
      formatted.insert(1, sep)
    }
    formatted.mkString("\n")
  }

  // --- _format_form (:1547-1585) --------------------------------------------

  private val pFormColonLine = compile("^([A-Za-z\\s]+):\\s*(.+)")
  private val pFormGapLine = compile("^([A-Za-z\\s]+)\\s{2,}(.+)")

  def formatForm(text: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.isEmpty) out += ""
      else if (rmatch(pFormColonLine, line).isDefined) out += line
      else rmatch(pFormGapLine, line) match {
        case Some(m) => out += s"${strip(m.group(1))}: ${strip(m.group(2))}"
        case None => out += line
      }
    }
    out.mkString("\n")
  }

  // --- _format_multi_column (:1587-1700), no-layout path ---------------------

  private val noteBanner =
    "NOTE: This text appears to be in multiple columns. " +
      "The content below has been reformatted as a single column."

  def formatMultiColumn(text: String): String = {
    val lines = splitLines(text)
    val shortLineThreshold = 30
    val shortLines = lines.count { l => val n = strip(l).length; n > 0 && n < shortLineThreshold }
    if (shortLines > lines.length * 0.5) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      out += noteBanner
      out += ""
      val current = scala.collection.mutable.ArrayBuffer.empty[String]
      for (raw <- lines) {
        val line = strip(raw)
        if (line.isEmpty) {
          if (current.nonEmpty) { out += current.mkString(" "); current.clear() }
          out += ""
        } else {
          if (current.nonEmpty && line.nonEmpty && isUpper(line.charAt(0)) &&
              current.last.length < shortLineThreshold) {
            val last = current.last
            if (last.endsWith(".") || last.endsWith("!") || last.endsWith("?") ||
                last.endsWith(":") || last.endsWith(";")) {
              out += current.mkString(" "); current.clear(); current += line
            } else if (pySplitWs(last).length < 4) {
              out += current.mkString(" "); current.clear(); current += line
            } else current += line
          } else current += line
        }
      }
      if (current.nonEmpty) out += current.mkString(" ")
      out.mkString("\n")
    } else formatParagraphs(text)
  }

  // --- _format_scientific (:1702-1744) -----------------------------------------

  private val formulaIndicators =
    Vector("=", "+", "-", "*", "/", "^", "sqrt", "sin", "cos", "tan", "log")

  def formatScientific(text: String): String = {
    val lines = splitLines(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      val line = strip(lines(i))
      if (line.isEmpty) { out += "" }
      else {
        val isFormula = formulaIndicators.exists(line.contains)
        if (isFormula) { out += ""; out += line; out += "" }
        else {
          if (i > 0 && out.nonEmpty && out.last.nonEmpty && !line.startsWith(" "))
            out(out.length - 1) = out.last + " " + line
          else out += line
        }
      }
      i += 1
    }
    out.mkString("\n")
  }

  // --- _default_formatting (:1746-1780) ------------------------------------------

  def defaultFormatting(text: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.isEmpty) {
        if (current.nonEmpty) { out += current.mkString(" "); current.clear() }
        out += ""
      } else current += line
    }
    if (current.nonEmpty) out += current.mkString(" ")
    out.mkString("\n")
  }
}
