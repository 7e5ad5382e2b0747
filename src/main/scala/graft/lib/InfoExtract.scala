package graft.lib

import java.util.regex.Pattern
import graft.model.ReceiptItem
import Py._

/** Structured key-value / receipt / table extraction [EQ]
  * (reference: lib/information_extraction.py:28-562). Field insertion
  * order is preserved (LinkedHashMap) because the reference's output
  * dicts are insertion-ordered.
  */
object InfoExtract {

  import scala.collection.mutable.LinkedHashMap

  /** Structured fields in the reference dicts' insertion order, as the
    * downstream renderers need them. */
  final case class OrderedInfo(
      kind: String,
      fields: Vector[(String, String)],
      items: Vector[ReceiptItem],
      headers: Vector[String],
      rows: Vector[Vector[(String, String)]])

  /** extract_structured_info dispatch (information_extraction.py:42-53).
    * `imageType` is the ImageType value string; null text → None.
    */
  def extractOrdered(text: String, imageType: String): Option[OrderedInfo] = {
    if (text == null || text.isEmpty) return None
    imageType match {
      case "id_card" => Some(OrderedInfo("id_card", idCardFields(text), Vector.empty, Vector.empty, Vector.empty))
      case "receipt" => Some(receiptOrdered(text))
      case "form" => Some(OrderedInfo("form", formFields(text), Vector.empty, Vector.empty, Vector.empty))
      case "table" => Some(tableOrdered(text))
      case _ => Some(OrderedInfo("generic", genericFields(text), Vector.empty, Vector.empty, Vector.empty))
    }
  }

  // --- extract_id_card_info (:55-134) ------------------------------------

  // Every pattern of the per-kind field passes sits behind an exact
  // literal-prerequisite gate (Py.Gated): a pattern runs only when the
  // scanned text contains one of its literal stems, so a turn is not
  // rescanned for labels it does not contain. The CI patterns gate on
  // the CI fold of the text they scan, computed once per call.

  private val idFieldPatterns: Vector[(String, Gated)] = Vector(
    ("name", "(?:name|nama)[\\s:]+([^\\n]+)", Seq("name", "nama")),
    ("date_of_birth", "(?:date of birth|birth date|birthdate|dob|tanggal lahir)[\\s:]+([^\\n]+)",
      Seq("birth", "dob", "tanggal lahir")),
    ("gender", "(?:gender|sex|jenis kelamin)[\\s:]+([^\\n]+)", Seq("gender", "sex", "jenis kelamin")),
    ("address", "(?:address|alamat)[\\s:]+([^\\n]+)", Seq("address", "alamat")),
    ("id_number", "(?:id|no|number|nomor)[\\s:]+([A-Z0-9\\-\\s]+)", Seq("id", "no", "number")),
    ("expiration_date", "(?:expiration|expiry|exp|berlaku sampai)[\\s:]+([^\\n]+)",
      Seq("exp", "berlaku sampai")),
    ("issue_date", "(?:issue|issued|date of issue|tanggal dikeluarkan)[\\s:]+([^\\n]+)",
      Seq("issue", "tanggal dikeluarkan")),
    ("nationality", "(?:nationality|negara|warga negara|citizenship)[\\s:]+([^\\n]+)",
      Seq("nationality", "negara", "citizenship")),
    ("place_of_birth", "(?:place of birth|birthplace|tempat lahir)[\\s:]+([^\\n]+)",
      Seq("place of birth", "birthplace", "tempat lahir")),
    ("blood_type", "(?:blood|blood type|golongan darah)[\\s:]+([^\\n]+)", Seq("blood", "golongan darah")),
    ("marital_status", "(?:marital status|status perkawinan)[\\s:]+([^\\n]+)",
      Seq("marital status", "status perkawinan")),
    ("occupation", "(?:occupation|job|pekerjaan)[\\s:]+([^\\n]+)", Seq("occupation", "job", "pekerjaan")),
    ("religion", "(?:religion|agama)[\\s:]+([^\\n]+)", Seq("religion", "agama"))
  ).map { case (f, p, stems) => (f, Gated(compile(p, I), stems)) }

  private val idFieldLabels: Vector[(String, Vector[String])] = Vector(
    "name" -> Vector("name", "nama"),
    "date_of_birth" -> Vector("date of birth", "birth date", "birthdate", "dob", "tanggal lahir"),
    "gender" -> Vector("gender", "sex", "jenis kelamin"),
    "address" -> Vector("address", "alamat"),
    "id_number" -> Vector("id", "no", "number", "nomor", "nomor kartu"),
    "expiration_date" -> Vector("expiration", "expiry", "exp", "berlaku sampai"),
    "issue_date" -> Vector("issue", "issued", "date of issue", "tanggal dikeluarkan"),
    "nationality" -> Vector("nationality", "negara", "warga negara", "citizenship"),
    "place_of_birth" -> Vector("place of birth", "birthplace", "tempat lahir"),
    "blood_type" -> Vector("blood", "blood type", "golongan darah"),
    "marital_status" -> Vector("marital status", "status perkawinan"),
    "occupation" -> Vector("occupation", "job", "pekerjaan"),
    "religion" -> Vector("religion", "agama"))

  // both per-label patterns hold the label as one quoted literal: the
  // label is their stem
  private val idLabelColon: Map[String, Gated] =
    idFieldLabels.flatMap(_._2).distinct
      .map(l => l -> Gated(compile("\\b" + Pattern.quote(l) + "\\s*:\\s*([^\\n]+)", I), Seq(l))).toMap
  private val idLabelLineStart: Map[String, Gated] =
    idFieldLabels.flatMap(_._2).distinct
      .map(l => l -> Gated(compile("^\\s*" + Pattern.quote(l) + "\\s+([^\\n]+)", I | M), Seq(l))).toMap

  def idCardFields(text: String): Vector[(String, String)] = {
    val textLower = lower(text)
    val folded = foldForCi(textLower)
    val extracted = LinkedHashMap.empty[String, String]
    for ((field, g) <- idFieldPatterns) {
      g.search(textLower, folded).foreach { m =>
        val v = strip(m.group(1))
        if (v.nonEmpty && !extracted.contains(field)) extracted(field) = v
      }
    }
    for ((field, labels) <- idFieldLabels if !extracted.contains(field)) {
      var found = false
      val it = labels.iterator
      while (it.hasNext && !found) {
        val label = it.next()
        idLabelColon(label).search(textLower, folded) match {
          case Some(m) if strip(m.group(1)).nonEmpty =>
            extracted(field) = strip(m.group(1)); found = true
          case _ =>
            idLabelLineStart(label).search(textLower, folded) match {
              case Some(m) if strip(m.group(1)).nonEmpty =>
                extracted(field) = strip(m.group(1)); found = true
              case _ =>
            }
        }
      }
    }
    extracted.toVector
  }

  // --- extract_receipt_info (:136-276) --------------------------------------

  // the labeled patterns are case-sensitive over textLower, so textLower
  // is their gate view; sub[\s-]?total and subtotal both hold "total"
  private val pRecDateLabeled = Gated(compile("(?:date|tanggal)[\\s:]+([0-9/\\-\\.]+)"), Seq("date", "tanggal"))
  private val pRecDateSimple = compile("\\b(\\d{1,2}[/\\-\\.]\\d{1,2}[/\\-\\.]\\d{2,4})\\b")
  private val pRecTimeLabeled =
    Gated(compile("(?:time|waktu)[\\s:]+(\\d{1,2}:\\d{2}(?::\\d{2})?(?:\\s*[AP]M)?)"), Seq("time", "waktu"))
  private val pRecTimeSimple = compile("\\b(\\d{1,2}:\\d{2}(?::\\d{2})?(?:\\s*[AP]M)?)\\b")
  private val pRecSubtotal = Gated(compile("(?:subtotal|sub[\\s-]?total)[\\s:]+\\$?([0-9\\.,]+)"), Seq("total"))
  private val pRecTax = Gated(compile("(?:tax|vat|pajak)[\\s:]+\\$?([0-9\\.,]+)"), Seq("tax", "vat", "pajak"))
  private val pRecTotal =
    Gated(compile("(?:total|amount|jumlah)[\\s:]+\\$?([0-9\\.,]+)"), Seq("total", "amount", "jumlah"))
  private val paymentMethods = Vector(
    "cash", "card", "credit", "debit", "visa", "mastercard", "amex",
    "american express", "discover", "tunai", "kartu", "kredit")
  private val pItemsStart = compile("^(?:items?|description|qty|quantity|item price)", I)
  private val pItemsEnd = compile("^(?:subtotal|total|tax|amount)", I)
  private val pItemP1 = compile("(.+?)\\s+(\\d+)\\s+\\$?([0-9\\.,]+)")
  private val pItemP2 = compile("(.+?)\\s+\\$?([0-9\\.,]+)")
  private val pItemP3 = compile("(\\d+)(?:\\s*[xX]\\s*)(.+?)\\s+\\$?([0-9\\.,]+)")

  def receiptOrdered(text: String): OrderedInfo = {
    val fields = LinkedHashMap.empty[String, String]
    val lines = splitLines(text)
    if (lines.nonEmpty && strip(lines(0)).nonEmpty) fields("merchant") = strip(lines(0))
    val textLower = lower(text)
    pRecDateLabeled.search(textLower)
      .map(m => strip(m.group(1)))
      .orElse(search(pRecDateSimple, text).map(_.group(1)))
      .foreach(fields("date") = _)
    pRecTimeLabeled.search(textLower)
      .map(m => strip(m.group(1)))
      .orElse(search(pRecTimeSimple, text).map(_.group(1)))
      .foreach(fields("time") = _)
    pRecSubtotal.search(textLower).foreach(m => fields("subtotal") = strip(m.group(1)))
    pRecTax.search(textLower).foreach(m => fields("tax") = strip(m.group(1)))
    pRecTotal.search(textLower).foreach(m => fields("total") = strip(m.group(1)))
    paymentMethods.find(textLower.contains).foreach(fields("payment_method") = _)

    val itemLines = scala.collection.mutable.ArrayBuffer.empty[String]
    var inItems = false
    for (raw <- lines) {
      val line = strip(raw)
      if (rmatch(pItemsStart, line).isDefined) inItems = true
      else if (inItems && rmatch(pItemsEnd, line).isDefined) inItems = false
      else if (inItems && line.nonEmpty) itemLines += line
    }
    val items = Vector.newBuilder[ReceiptItem]
    for (line <- itemLines) {
      rmatch(pItemP1, line) match {
        case Some(m) => items += ReceiptItem(strip(m.group(1)), m.group(2), m.group(3))
        case None =>
          rmatch(pItemP2, line) match {
            case Some(m) => items += ReceiptItem(strip(m.group(1)), "1", m.group(2))
            case None =>
              rmatch(pItemP3, line) match {
                case Some(m) => items += ReceiptItem(strip(m.group(2)), m.group(1), m.group(3))
                case None =>
                  if (line.nonEmpty) items += ReceiptItem(line, "1", "0.00")
              }
          }
      }
    }
    OrderedInfo("receipt", fields.toVector, items.result(), Vector.empty, Vector.empty)
  }

  // --- extract_form_info (:278-329) -------------------------------------------
  // The per-line loop is inert (the "meaningful value" regex matches the
  // empty string, so its negation always rejects —
  // information_extraction.py:307, SURVEY.md §1.3); only the fallback
  // field_patterns contribute.

  private val formFieldPatterns: Vector[(String, Gated)] = Vector(
    ("name", "(?:name|nama)[\\s:]+([^\\n]+)", Seq("name", "nama")),
    ("email", "(?:email|e-mail)[\\s:]+([^\\n]+)", Seq("email", "e-mail")),
    ("phone", "(?:phone|telephone|tel|hp|handphone)[\\s:]+([^\\n]+)", Seq("phone", "tel", "hp")),
    ("address", "(?:address|alamat)[\\s:]+([^\\n]+)", Seq("address", "alamat")),
    ("date", "(?:date|tanggal)[\\s:]+([^\\n]+)", Seq("date", "tanggal")),
    ("company", "(?:company|perusahaan)[\\s:]+([^\\n]+)", Seq("company", "perusahaan")),
    ("department", "(?:department|departemen)[\\s:]+([^\\n]+)", Seq("department", "departemen"))
  ).map { case (f, p, stems) => (f, Gated(compile(p, I), stems)) }

  def formFields(text: String): Vector[(String, String)] = {
    val folded = foldForCi(text)
    val fields = LinkedHashMap.empty[String, String]
    for ((field, g) <- formFieldPatterns if !fields.contains(field)) {
      g.search(text, folded).foreach { m =>
        val v = strip(m.group(1))
        if (v.nonEmpty) fields(field) = v
      }
    }
    fields.toVector
  }

  /** Every gated pattern of this object, for PropertySpec's soundness check. */
  private[graft] def gates: Seq[Gated] =
    idFieldPatterns.map(_._2) ++ idLabelColon.values ++ idLabelLineStart.values ++
      Seq(pRecDateLabeled, pRecTimeLabeled, pRecSubtotal, pRecTax, pRecTotal) ++
      formFieldPatterns.map(_._2)

  // --- extract_table_info (:331-528) --------------------------------------------

  def tableOrdered(text: String): OrderedInfo = {
    val lines = splitLines(text).toVector
    if (lines.exists(_.contains('|'))) delimitedTable(lines, '|')
    else if (lines.exists(_.contains('\t'))) delimitedTable(lines, '\t')
    else spaceDelimitedTable(lines)
  }

  private def isSeparatorRow(s: String): Boolean =
    s.forall(c => c == '-' || c == '=' || isSpaceCp(c.toInt))

  private def delimitedTable(lines: Vector[String], delimiter: Char): OrderedInfo = {
    val nonEmpty = lines.filter(l => strip(l).nonEmpty)
    if (nonEmpty.isEmpty) return OrderedInfo("table", Vector.empty, Vector.empty, Vector.empty, Vector.empty)
    val headers = split(nonEmpty(0), delimiter).map(strip).filter(_.nonEmpty).toVector
    if (headers.isEmpty) return OrderedInfo("table", Vector.empty, Vector.empty, Vector.empty, Vector.empty)
    var dataStart = 1
    while (dataStart < nonEmpty.length && isSeparatorRow(nonEmpty(dataStart))) dataStart += 1
    val rows = Vector.newBuilder[Vector[(String, String)]]
    for (i <- dataStart until nonEmpty.length if !isSeparatorRow(nonEmpty(i))) {
      val values = split(nonEmpty(i), delimiter).map(strip)
      // dict semantics: duplicate headers overwrite in place (first
      // position, last value) — information_extraction.py:409-412
      val row = LinkedHashMap.empty[String, String]
      for (j <- values.indices if j < headers.length) row(headers(j)) = values(j)
      if (row.nonEmpty) rows += row.toVector
    }
    OrderedInfo("table", Vector.empty, Vector.empty, headers, rows.result())
  }

  private val pWord = compile("\\S+")

  private def spaceDelimitedTable(lines: Vector[String]): OrderedInfo = {
    val nonEmpty = lines.filter(l => strip(l).nonEmpty)
    if (nonEmpty.isEmpty) return OrderedInfo("table", Vector.empty, Vector.empty, Vector.empty, Vector.empty)
    // Column-start evolution replicated literally, including the in-place
    // averaging against the closest existing start
    // (information_extraction.py:445-469).
    // All positions/lengths/slices below are CODE POINTS: Python indexes
    // strings by code point, and astral chars (which reach here when the
    // len<=10 gate skips the BMP filter) occupy two UTF-16 units — raw
    // Matcher offsets would shift every column boundary (caught by a
    // 100k-turn parity blast: one ':\n𝔸𝕭 1.' turn built phantom columns).
    val columnStarts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val maxRows = math.min(5, nonEmpty.length)
    for (i <- 0 until maxRows) {
      val line = nonEmpty(i)
      val positions = finditer(pWord, line).map(m => line.codePointCount(0, m.start))
      if (i == 0) columnStarts ++= positions
      else {
        val merged = scala.collection.mutable.ArrayBuffer.empty[Int]
        for (pos <- positions if columnStarts.nonEmpty) {
          val closest = columnStarts.minBy(x => math.abs(x - pos))
          if (math.abs(closest - pos) < 5) {
            val idx = columnStarts.indexOf(closest)
            columnStarts(idx) = (columnStarts(idx) + pos) / 2
          } else merged += pos
        }
        columnStarts ++= merged
        val sortedCs = columnStarts.sorted
        columnStarts.clear(); columnStarts ++= sortedCs
      }
    }
    if (columnStarts.isEmpty)
      return OrderedInfo("table", Vector.empty, Vector.empty, Vector.empty, Vector.empty)
    val headerLine = nonEmpty(0)
    val headers = Vector.newBuilder[String]
    for (i <- columnStarts.indices) {
      val start = columnStarts(i)
      val end = if (i < columnStarts.length - 1) columnStarts(i + 1) else Py.len(headerLine)
      val h = strip(sliceRange(headerLine, start, end))
      if (h.nonEmpty) headers += h
    }
    val hs = headers.result()
    if (hs.isEmpty) return OrderedInfo("table", Vector.empty, Vector.empty, Vector.empty, Vector.empty)
    var dataStart = 1
    while (dataStart < nonEmpty.length && isSeparatorRow(nonEmpty(dataStart))) dataStart += 1
    val rows = Vector.newBuilder[Vector[(String, String)]]
    for (i <- dataStart until nonEmpty.length if !isSeparatorRow(nonEmpty(i))) {
      val row = nonEmpty(i)
      val values = Vector.newBuilder[String]
      for (j <- columnStarts.indices) {
        val start = columnStarts(j)
        val end = if (j < columnStarts.length - 1) columnStarts(j + 1) else Py.len(row)
        if (start < Py.len(row)) values += strip(sliceRange(row, start, end))
        else values += ""
      }
      val vs = values.result()
      val rowData = LinkedHashMap.empty[String, String]
      for (j <- vs.indices if j < hs.length) rowData(hs(j)) = vs(j)
      if (rowData.nonEmpty) rows += rowData.toVector
    }
    OrderedInfo("table", Vector.empty, Vector.empty, hs, rows.result())
  }

  /** Python slice s[a:b] with clamping — indices are CODE POINTS. */
  private def sliceRange(s: String, a: Int, b: Int): String = {
    val n = Py.len(s)
    val from = math.max(0, math.min(a, n))
    val to = math.max(from, math.min(b, n))
    s.substring(s.offsetByCodePoints(0, from), s.offsetByCodePoints(0, to))
  }

  // --- extract_generic_info (:530-562) ---------------------------------------
  // Returns {} — the always-rejecting "meaningful value" guard
  // (information_extraction.py:559) makes the loop inert. Preserved.

  def genericFields(text: String): Vector[(String, String)] = Vector.empty
}
