package graft.lib

import java.util.regex.Pattern
import Py._

/** The `_organize_*` family [EQ-surface, dead in live path]
  * (reference: lib/text_processing.py:711-1150). `format_text` is what
  * the live request path calls; these organizers (the targets of the
  * reference's equally unreached `_enhance_text_organization` dispatch)
  * are exported-but-unreached (SURVEY.md §2.5 note). Ported so the
  * reference's organizers are callable; golden-tested directly.
  */
object Organizers {

  private val pListItem = compile("^\\d+[\\.\\)]")
  private val pAllCapsColon = compile("^[A-Z][A-Z\\s]+:?")
  private val pLabelColon = compile("^[A-Z][A-Za-z\\s]+:")
  private val pDigitStart = compile("^[0-9]")

  /** _organize_document_text (:744-805). */
  def organizeDocumentText(text: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val current = scala.collection.mutable.ArrayBuffer.empty[String]
    def flush(): Unit =
      if (current.nonEmpty) { out += current.mkString(" "); current.clear() }
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.isEmpty) { flush(); out += "" }
      else if (line.startsWith("•") || line.startsWith("-") || rmatch(pListItem, line).isDefined) {
        flush(); out += line
      } else if (rmatch(pAllCapsColon, line).isDefined || rmatch(pLabelColon, line).isDefined) {
        flush(); out += line
      } else if (line.length < 40 &&
                 !(line.endsWith(".") || line.endsWith("?") || line.endsWith("!"))) {
        flush(); out += line
      } else {
        if (current.nonEmpty &&
            (isUpper(line.charAt(0)) || rmatch(pDigitStart, line).isDefined) &&
            (current.last.endsWith(".") || current.last.endsWith("!") || current.last.endsWith("?"))) {
          out += current.mkString(" "); current.clear(); current += line
        } else current += line
      }
    }
    flush()
    out.mkString("\n")
  }

  private val pFormColonLine = compile("^([A-Za-z\\s]+):\\s*(.+)")
  private val pFormGapLine = compile("^([A-Za-z\\s]+)\\s{2,}(.+)")

  /** _organize_form_text (:807-848). */
  def organizeFormText(text: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.isEmpty) out += ""
      else rmatch(pFormColonLine, line) match {
        case Some(m) => out += s"${strip(m.group(1))}: ${strip(m.group(2))}"
        case None => rmatch(pFormGapLine, line) match {
          case Some(m) => out += s"${strip(m.group(1))}: ${strip(m.group(2))}"
          case None => out += line
        }
      }
    }
    out.mkString("\n")
  }

  private val pRecItems = compile("^ITEM|^DESCRIPTION|^QTY|PRICE|^-+", I)
  private val pEq5 = compile("^={5,}")
  private val pRecTotals = compile("^SUBTOTAL|^TAX|^TOTAL|^={5,}", I)
  private val pRecFooter = compile("^THANK|^RETURN|^EXCHANGE|^POLICY|^RECEIPT", I)

  /** _organize_receipt_text (:850-930) — 4-section state machine; the
    * header→items transition consumes the boundary line, the later
    * transitions do not. */
  def organizeReceiptText(text: String): String = {
    val header = scala.collection.mutable.ArrayBuffer.empty[String]
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    val totals = scala.collection.mutable.ArrayBuffer.empty[String]
    val footer = scala.collection.mutable.ArrayBuffer.empty[String]
    var section = "header"
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.nonEmpty) {
        var consumed = false
        if (section == "header" &&
            (rmatch(pRecItems, line).isDefined || rmatch(pEq5, line).isDefined)) {
          section = "items"; consumed = true
        }
        if (!consumed) {
          if (section == "items" && rmatch(pRecTotals, line).isDefined) section = "totals"
          if (section == "totals" && rmatch(pRecFooter, line).isDefined) section = "footer"
          section match {
            case "header" => header += line
            case "items" => items += line
            case "totals" => totals += line
            case _ => footer += line
          }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (header.nonEmpty) { out ++= header; out += "" }
    if (items.nonEmpty) { out += "ITEMS:"; out ++= items.map("  " + _); out += "" }
    if (totals.nonEmpty) { out += "TOTALS:"; out ++= totals; out += "" }
    if (footer.nonEmpty) out ++= footer
    out.mkString("\n")
  }

  private val idFields = Vector(
    "NAME", "ADDRESS", "DATE OF BIRTH", "DOB", "EXPIRATION DATE", "SEX", "GENDER",
    "HEIGHT", "WEIGHT", "EYES", "HAIR", "DRIVER'S LICENSE", "ISSUE DATE",
    "PLACE OF BIRTH", "NATIONALITY", "RELIGION", "MARITAL STATUS", "BLOOD TYPE",
    "OCCUPATION", "ID NUMBER", "SIGNATURE")
  private val idFieldColon: Vector[(String, Pattern)] =
    idFields.map(f => f -> compile("^" + Pattern.quote(f) + "\\s*:?\\s*(.+)", I))
  private val idFieldSplit: Vector[(String, Pattern)] =
    idFields.map(f => f -> compile(Pattern.quote(f), I))
  private val fieldOrder = Vector(
    "ADDRESS", "DATE OF BIRTH", "DOB", "PLACE OF BIRTH", "SEX", "GENDER",
    "HEIGHT", "WEIGHT", "EYES", "HAIR", "BLOOD TYPE", "NATIONALITY",
    "RELIGION", "MARITAL STATUS", "OCCUPATION", "ISSUE DATE", "EXPIRATION DATE")

  /** _organize_id_card_text (:932-1012). */
  def organizeIdCardText(text: String): String = {
    val fieldValues = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.nonEmpty) {
        var matched: Option[(String, String)] = None
        val it = idFieldColon.iterator
        while (it.hasNext && matched.isEmpty) {
          val (f, p) = it.next()
          rmatch(p, line).foreach(m => matched = Some((f, strip(m.group(1)))))
        }
        matched match {
          case Some((f, v)) => fieldValues(f.toUpperCase) = v
          case None =>
            val lu = line.toUpperCase
            var done = false
            val it2 = idFieldSplit.iterator
            while (it2.hasNext && !done) {
              val (f, p) = it2.next()
              if (lu.contains(f.toUpperCase)) {
                val parts = p.split(line, -1)
                if (parts.length > 1 && strip(parts(1)).nonEmpty) {
                  fieldValues(f.toUpperCase) = strip(parts(1)); done = true
                }
              }
            }
        }
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    fieldValues.get("NAME").foreach(v => out += s"NAME: $v")
    Vector("ID NUMBER", "DRIVER'S LICENSE").find(fieldValues.contains).foreach { f =>
      out += s"$f: ${fieldValues(f)}"
    }
    for (f <- fieldOrder if fieldValues.contains(f)) out += s"$f: ${fieldValues(f)}"
    val printed = Set("NAME", "ID NUMBER", "DRIVER'S LICENSE") ++ fieldOrder
    for ((f, v) <- fieldValues if !printed.contains(f)) out += s"$f: $v"
    out.mkString("\n")
  }

  private val pPipeSpace = compile("\\s*\\|\\s*")
  private val asciiWs = Set(' ', '\t', '\n', '\u000B', '\f', '\r')

  /** _organize_table_text (:1014-1119). */
  def organizeTableText(text: String): String = {
    val lines = splitLines(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (lines.exists(_.contains('|'))) {
      for (i <- lines.indices) {
        val raw = lines(i)
        if (strip(raw).isEmpty) out += ""
        else {
          var line = sub(pPipeSpace, " | ", strip(raw))
          if (!line.startsWith("|")) line = "| " + line
          if (!line.endsWith("|")) line = line + " |"
          out += line
          if (i == 0 && lines.length > 1 &&
              !strip(lines(1)).startsWith("--") && !strip(lines(1)).startsWith("==")) {
            val columns = line.count(_ == '|') - 1
            out += "|" + List.fill(columns)(" --- ").mkString("|") + "|"
          }
        }
      }
      out.mkString("\n")
    } else if (lines.length > 2) {
      // whitespace-column detection: char.isspace() is Unicode, the
      // `in string.whitespace` checks are ASCII, and the initial ''
      // prev-char counts as whitespace (empty-substring membership) —
      // replicated exactly.
      val wsCols = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      for (line <- lines.take(5) if strip(line).nonEmpty) {
        var prevIsWs = true // '' in string.whitespace → True
        var colStart = -1
        for (i <- 0 until line.length) {
          val c = line.charAt(i)
          if (isSpaceCp(c.toInt) && !prevIsWs) colStart = i
          else if (!isSpaceCp(c.toInt) && prevIsWs && colStart >= 0) {
            if (i - colStart >= 2) wsCols += ((colStart, i))
            colStart = -1
          }
          prevIsWs = asciiWs.contains(c)
        }
      }
      if (wsCols.nonEmpty) {
        val boundaries = scala.collection.mutable.ArrayBuffer.empty[Int]
        for ((start, _) <- wsCols.sortBy(_._1))
          if (boundaries.isEmpty || start > boundaries.last + 3) boundaries += start
        if (boundaries.nonEmpty) {
          for (line <- lines) {
            if (strip(line).isEmpty) out += ""
            else {
              val nl = new StringBuilder("| ")
              var lastPos = 0
              for (b <- boundaries if b < line.length) {
                nl.append(strip(line.substring(lastPos, b))).append(" | ")
                lastPos = b
              }
              if (lastPos < line.length)
                nl.append(strip(line.substring(lastPos))).append(" |")
              out += nl.toString
            }
          }
          if (out.nonEmpty) {
            val columns = out(0).count(_ == '|') - 1
            out.insert(1, "|" + List.fill(columns)(" --- ").mkString("|") + "|")
          }
          out.mkString("\n")
        } else lines.map(strip).mkString("\n")
      } else lines.map(strip).mkString("\n")
    } else lines.map(strip).mkString("\n")
  }

  /** _default_text_organization (:1121-1150). */
  def defaultTextOrganization(text: String): String = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var prevEmpty = false
    for (raw <- splitLines(text)) {
      val line = strip(raw)
      if (line.isEmpty) {
        if (!prevEmpty) { out += ""; prevEmpty = true }
      } else { out += line; prevEmpty = false }
    }
    out.mkString("\n")
  }
}
