package graft.lib

import java.util.regex.Pattern
import Py._

/** Scalar text-correction layer [EQ].
  *
  * Re-expresses the reference's rule-based OCR correction chains as pure
  * `String => String` Scala functions with exact Python-`re` parity
  * (reference: lib/text_processing.py:77-599 — post_process_text and the
  * per-type fixers; lib/smartglass_ocr.py:663-780 — Indonesian fixer;
  * app/api/utils.py:97-122 — final response projection).
  *
  * All replacement chains preserve the reference's insertion-order
  * application (Python 3.7+ dicts iterate in insertion order and the
  * reference relies on it, SURVEY.md §1.3).
  */
object TextCorrections {

  // --- post_process_text (text_processing.py:77-146) -------------------

  private val pBullet = compile("[\\*\\+\\-\u2023\u25aa\u2022\u25cf\u00b7](?:\\s+|\\n)")
  private val pMultiSpace = compile(" +")
  private val pDigConf = compile("(?<=\\d)[lIOSZB](?=\\d)")
  private val pSpacingBoundary =
    compile("(?<=[a-z])(?=[A-Z])|(?<=[a-zA-Z])(?=\\d)|(?<=\\d)(?=[a-zA-Z])")

  private def fixDigitConfusions(s: String): String = {
    val m = pDigConf.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    do {
      sb.append(s, last, m.start)
      sb.append(s.charAt(m.start) match {
        case 'l' | 'I' => '1'
        case 'O' => '0'
        case 'S' => '5'
        case 'Z' => '2'
        case 'B' => '8'
      })
      last = m.end
    } while (m.find())
    sb.append(s, last, s.length)
    sb.toString
  }
  private val pPunctCap = compile("([.!?,:;])([A-Z0-9])")
  private val pMerged = compile("([a-z])([A-Z])")
  private val pManyNl = Gated(compile("\\n{3,}"), Seq("\n\n\n"))
  private val pHyphenNl = Gated(compile("(\\w+)-\\n(\\w+)"), Seq("-\n"))

  /** Strip astral (non-BMP) code points — Python iterates code points,
    * so a bare UTF-16 char filter would leave lone surrogates
    * (text_processing.py:92; SURVEY.md §1.3). */
  def bmpFilter(s: String): String = {
    // fast path: astral code points require surrogate units; without any
    // the filter is the identity (lone surrogates take the slow path,
    // where codePointAt yields the unit itself < 65536 → kept, as before)
    var j = 0
    var hasSurrogate = false
    while (j < s.length && !hasSurrogate) {
      val c = s.charAt(j)
      if (c >= 0xD800 && c <= 0xDFFF) hasSurrogate = true
      j += 1
    }
    if (!hasSurrogate) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 65536) sb.appendCodePoint(cp)
      i += Character.charCount(cp)
    }
    sb.toString
  }

  // --- literal-prerequisite gates ----------------------------------------------
  // Each gate is an EXACT necessary condition for its pattern to match
  // the string it is tested on, so a false gate skips only identity
  // rewrites and scans that cannot match. The head passes use the char
  // tests below, whose classes are the translated pattern's own classes
  // (\d → \p{Nd} ≡ Character.isDigit; [a-zA-Z0-9.!?,:;] literal ASCII).
  // The per-kind fixers (ID card, form) and the newline passes put each
  // pattern behind its literal stems (Py.Gated), evaluated on the current
  // text because each chain rewrites in order.

  private def hasBulletChar(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '*' || c == '+' || c == '-' || c == '‣' || c == '▪' ||
        c == '•' || c == '●' || c == '·') return true
      i += 1
    }
    false
  }

  /** Any \p{Nd} code point (astral digits too: fixIdCardText may see them). */
  private def hasNd(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isDigit(c) || (Character.isHighSurrogate(c) && Character.isDigit(s.codePointAt(i))))
        return true
      i += 1
    }
    false
  }

  /** Any zero-width boundary pSpacingBoundary would match: aA, letter→Nd,
    * Nd→letter adjacency (letter = ASCII [a-zA-Z], the pattern's class). */
  private def hasSpacingAdjacency(s: String): Boolean = {
    var i = 1
    while (i < s.length) {
      val a = s.charAt(i - 1); val b = s.charAt(i)
      val aLower = a >= 'a' && a <= 'z'
      val bUpper = b >= 'A' && b <= 'Z'
      if (aLower && bUpper) return true
      val aLetter = aLower || (a >= 'A' && a <= 'Z')
      val bLetter = bUpper || (b >= 'a' && b <= 'z')
      if ((aLetter && Character.isDigit(b)) || (Character.isDigit(a) && bLetter))
        return true
      i += 1
    }
    false
  }

  private def hasPunctCapAdjacency(s: String): Boolean = {
    var i = 1
    while (i < s.length) {
      val a = s.charAt(i - 1)
      if (a == '.' || a == '!' || a == '?' || a == ',' || a == ':' || a == ';') {
        val b = s.charAt(i)
        if ((b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')) return true
      }
      i += 1
    }
    false
  }

  private def hasLowerUpperAdjacency(s: String): Boolean = {
    var i = 1
    while (i < s.length) {
      val a = s.charAt(i - 1)
      if (a >= 'a' && a <= 'z') {
        val b = s.charAt(i)
        if (b >= 'A' && b <= 'Z') return true
      }
      i += 1
    }
    false
  }

  /** Shared correction head (text_processing.py:88-122) — BMP filter,
    * quote folding, bullet normalization, digit-context confusions,
    * spacing fixes — used by both post_process_text and
    * _apply_general_text_corrections. */
  private[lib] def postProcessHead(text: String): String = {
    var t = bmpFilter(text)
    // Quote/apostrophe fixes (source uses straight quotes: only the
    // ''→" ,,→" `→' rewrites have effect; text_processing.py:94-97)
    t = t.replace("''", "\"").replace(",,", "\"")
    t = t.replace("`", "'")
    if (hasBulletChar(t)) t = subLit(pBullet, "\u2022 ", t)
    // Fused digit-context confusion pass: equivalent to the reference's
    // six sequential re.sub calls (text_processing.py:103-108) — the
    // lookarounds require digits on BOTH sides, so adjacent confusable
    // letters never match in either form and the passes are independent.
    if (hasNd(t)) t = fixDigitConfusions(t)
    // Fused spacing pass ≡ the three zero-width inserts at :111-113 —
    // a boundary can satisfy at most one alternative, and inserting a
    // space never creates/destroys a boundary another pass would see.
    // Gated: each gate is an exact necessary condition on this string.
    if (hasSpacingAdjacency(t)) t = sub(pSpacingBoundary, " ", t)
    // " +" rewrites every SINGLE space to itself — without a double
    // space the pass is the identity, so gate on "  "
    if (t.contains("  ")) t = sub(pMultiSpace, " ", t)
    if (hasPunctCapAdjacency(t)) t = sub(pPunctCap, "$1 $2", t)
    if (hasLowerUpperAdjacency(t)) t = sub(pMerged, "$1 $2", t)
    t
  }

  /** Master per-type correction (text_processing.py:77-146). `imageType`
    * is the ImageType *value* string (already lowercase kinds). */
  def postProcessText(text: String, imageType: String): String = {
    if (text == null || text.isEmpty) return ""
    var t = postProcessHead(text)
    t = pManyNl.sub("\n\n", t)
    t = pHyphenNl.sub("$1$2", t)
    val kind = if (imageType == null) "" else lower(imageType)
    if (kind.contains("receipt")) t = fixReceiptText(t)
    else if (kind.contains("id_card")) t = fixIdCardText(t)
    else if (kind.contains("form")) t = fixFormText(t)
    else if (kind.contains("table")) t = fixTableText(t)
    strip(t)
  }

  // --- _fix_receipt_text (text_processing.py:148-252) -------------------

  private val pCurrency = compile("([0-9]+)\\.([0-9]{2})([^0-9])")
  private val pPercent = compile("([0-9]+)[,.]([0-9]+)o/?")
  // Effective (first-occurrence, last-value) order of the replacement
  // dict at text_processing.py:165-197.
  private val receiptWordFixes: Vector[(String, String)] = Vector(
    "TOTAI" -> "TOTAL", "SUBTOTAI" -> "SUBTOTAL",
    "CASI-I" -> "CASH", "CHANGI" -> "CHANGE",
    "DISCOUNI" -> "DISCOUNT", "ITEMS" -> "ITEMS",
    "TAX" -> "TAX", "DUE" -> "DUE", "DATE" -> "DATE",
    "TIME" -> "TIME", "THANI< YOU" -> "THANK YOU",
    "THANKS" -> "THANKS", "CARD" -> "CARD",
    "CASHIER" -> "CASHIER", "INVOICE" -> "INVOICE",
    "NO." -> "NO.", "DESCRIPTION" -> "DESCRIPTION",
    "QTY" -> "QTY", "PRICE" -> "PRICE",
    "AMOUNT" -> "AMOUNT", "DISCOUNT" -> "DISCOUNT",
    "SUBTOTAL" -> "SUBTOTAL", "TOTAL" -> "TOTAL",
    "PMT" -> "PAYMENT", "VAT" -> "VAT", "CASH" -> "CASH",
    "DEBIT" -> "DEBIT", "CREDIT" -> "CREDIT",
    "THANK YOU" -> "THANK YOU")
  private val pItemSection = compile("^(ITEM|DESCRIPTION|PRODUCT|GOODS)S?", I)
  private val pItemSectionEnd = compile("^(SUBTOTAL|TOTAL|TAX|DISCOUNT)", I)
  private val pItemLine = compile("^(.+?)(?:\\s+(\\d+))?(?:\\s+(?:x|@)\\s+)?([0-9.,]+)")
  private val pSubtotalLine = compile("(?i)subtotal\\s*[:,]?\\s*[$]?([0-9.,]+)")
  private val pTaxLine = compile("(?i)tax\\s*[:,]?\\s*[$]?([0-9.,]+)")
  private val pTotalLine = compile("(?i)total\\s*[:,]?\\s*[$]?([0-9.,]+)")

  def fixReceiptText(text0: String): String = {
    var t = sub(pCurrency, "\\$$1.$2$3", text0)
    t = sub(pPercent, "$1.$2%", t)
    for ((w, r) <- receiptWordFixes) t = replaceWordLiteral(t, w, r, ignoreCase = false)
    val lines = splitLines(t)
    val out = Vector.newBuilder[String]
    var inItems = false
    for (raw <- lines) {
      val line = strip(raw)
      if (line.isEmpty) out += ""
      else if (rmatch(pItemSection, line).isDefined) { inItems = true; out += line }
      else {
        if (inItems && rmatch(pItemSectionEnd, line).isDefined) inItems = false
        if (inItems) {
          search(pItemLine, line) match {
            case Some(m) =>
              val name = strip(m.group(1))
              val qty = if (m.group(2) != null) m.group(2) else "1"
              val price = strip(m.group(3))
              out += s"$name: $qty x $$$price"
            case None => out += line
          }
        } else out += line
      }
    }
    t = out.result().mkString("\n")
    t = sub(pSubtotalLine, "SUBTOTAL: \\$$1", t)
    t = sub(pTaxLine, "TAX: \\$$1", t)
    t = sub(pTotalLine, "TOTAL: \\$$1", t)
    t
  }

  // --- _fix_id_card_text (text_processing.py:254-321) -------------------

  private val idCardFixes: Vector[(String, String)] = Vector(
    "NAME" -> "NAMA", "NAMA" -> "NAMA",
    "ADDRESS" -> "ALAMAT", "ALAMAT" -> "ALAMAT",
    "TEMPAT/TGL LAHIR" -> "TEMPAT/TGL LAHIR",
    "TEMPAT TGL LAHIR" -> "TEMPAT/TGL LAHIR",
    "JENIS KELAMIN" -> "JENIS KELAMIN",
    "AGAMA" -> "AGAMA",
    "STATUS PERKAWINAN" -> "STATUS PERKAWINAN",
    "PEKERJAAN" -> "PEKERJAAN",
    "KEWARGANEGARARAN" -> "KEWARGANEGARAAN",
    "BERLAKU HINGGA" -> "BERLAKU HINGGA", "NIK" -> "NIK",
    "DESA/KELURAHAN" -> "DESA/KELURAHAN",
    "KECAMATAN" -> "KECAMATAN", "KABUPATEN" -> "KABUPATEN",
    "PROVINSI" -> "PROVINSI")
  private val idFields = Vector(
    "NAMA", "ALAMAT", "TEMPAT/TGL LAHIR", "JENIS KELAMIN", "AGAMA",
    "STATUS PERKAWINAN", "PEKERJAAN", "KEWARGANEGARAAN", "BERLAKU HINGGA",
    "DESA/KELURAHAN", "KECAMATAN", "KABUPATEN", "PROVINSI")
  private val idFieldColon: Vector[Gated] =
    idFields.map(f => Gated(compile("(" + Pattern.quote(f) + ")\\s+([^:\\n]+)"), Seq(f)))
  private val pNikSearch = Gated(compile("NIK\\s*:?\\s*([0-9\\s]+)", I), Seq("nik"))
  private val pNikSub = compile("NIK\\s*:?\\s*[0-9\\s]+", I)
  private val pDate = compile("(\\d{1,2})[/\\-\\.\\\\](\\d{1,2})[/\\-\\.\\\\](\\d{2,4})")

  def fixIdCardText(text0: String): String = {
    var t = text0
    for ((w, r) <- idCardFixes) t = replaceWordLiteral(t, w, r, ignoreCase = true)
    for (g <- idFieldColon) t = g.sub("$1: $2", t)
    // NIK 16-digit grouping; note the reference strips only ' ' (not \n)
    // from the captured run and the rewrite's trailing \s+ eats newlines.
    pNikSearch.search(t).foreach { m =>
      val nik = m.group(1).replace(" ", "")
      if (nik.length >= 15) {
        val sb = new StringBuilder
        val upto = math.min(16, nik.length)
        var i = 0
        while (i < upto) {
          sb.append(nik.charAt(i))
          if ((i + 1) % 4 == 0 && i < 15) sb.append(' ')
          i += 1
        }
        t = subLit(pNikSub, s"NIK: ${sb.toString}", t)
      }
    }
    // Date normalization: finditer over the *current* text, then plain
    // substring replacement of each match (replaces all occurrences).
    // pDate needs a digit (\d → \p{Nd}).
    if (hasNd(t)) for (m <- finditer(pDate, t)) {
      val Vector(day, month, year) = m.groups
      val fd = zfill(day, 2) + "-" + zfill(month, 2) + "-" +
        zfill(year, if (year.length == 2) 2 else 4)
      t = t.replace(m.group, fd)
    }
    t
  }

  // --- _fix_form_text (text_processing.py:406-460) ----------------------

  // (pattern, stem, replacement): the stem is a case-sensitive literal
  // run that every match of the pattern contains
  private val formFieldFixes: Vector[(Gated, String)] = Vector(
    ("\\b(?:F|f)irst\\s*(?:N|n)ame\\b", "irst", "First Name"),
    ("\\b(?:L|l)ast\\s*(?:N|n)ame\\b", "ast", "Last Name"),
    ("\\b(?:M|m)iddle\\s*(?:N|n)ame\\b", "iddle", "Middle Name"),
    ("\\b(?:F|f)ull\\s*(?:N|n)ame\\b", "ull", "Full Name"),
    ("\\b(?:A|a)ddress\\b", "ddress", "Address"), ("\\b(?:C|c)ity\\b", "ity", "City"),
    ("\\b(?:S|s)tate\\b", "tate", "State"),
    ("\\b(?:Z|z)ip\\s*(?:C|c)ode\\b", "ode", "Zip Code"),
    ("\\b(?:P|p)ostal\\s*(?:C|c)ode\\b", "ostal", "Postal Code"),
    ("\\b(?:C|c)ountry\\b", "ountry", "Country"), ("\\b(?:E|e)mail\\b", "mail", "Email"),
    ("\\b(?:P|p)hone\\b", "hone", "Phone"), ("\\b(?:M|m)obile\\b", "obile", "Mobile"),
    ("\\b(?:D|d)ate\\s*(?:O|o)f\\s*(?:B|b)irth\\b", "irth", "Date of Birth"),
    ("\\b(?:G|g)ender\\b", "ender", "Gender"),
    ("\\b(?:O|o)ccupation\\b", "ccupation", "Occupation"),
    ("\\b(?:C|c)ompany\\b", "ompany", "Company"),
    ("\\b(?:D|d)epartment\\b", "epartment", "Department"),
    ("\\b(?:S|s)ignature\\b", "ignature", "Signature"), ("\\b(?:D|d)ate\\b", "ate", "Date")
  ).map { case (p, stem, r) => (Gated(compile(p), Seq(stem)), r) }
  private val formFieldValues: Vector[String] = formFieldFixes.map(_._2)
  private val formColon: Vector[Gated] =
    formFieldValues.map(f => Gated(compile("(" + Pattern.quote(f) + ")\\s+([^:\\n]+)"), Seq(f)))
  private val pCheckedBox = Gated(compile("\\[\\s*[xX\u2713\u2714]\\s*\\]"), Seq("["))
  private val pEmptyBox = Gated(compile("\\[\\s*\\]"), Seq("["))
  private val formNewline: Vector[Gated] =
    formFieldValues.map(f => Gated(compile("(" + Pattern.quote(f) + ":\\s+[^\\n]+)([^\\n])"), Seq(f + ":")))

  def fixFormText(text0: String): String = {
    var t = text0
    for ((g, r) <- formFieldFixes) t = g.subLit(r, t)
    for (g <- formColon) t = g.sub("$1: $2", t)
    t = pCheckedBox.subLit("\u2611", t)
    t = pEmptyBox.subLit("\u2610", t)
    // Reference quirk preserved: the greedy [^\n]+ backtracks one char,
    // so each matched field line gets its LAST char pushed to a new line
    // (text_processing.py:454-458).
    for (g <- formNewline) t = g.sub("$1\n$2", t)
    t
  }

  /** Every gated pattern of this object, for PropertySpec's soundness check. */
  private[graft] def gates: Seq[Gated] =
    Seq(pManyNl, pHyphenNl, pNikSearch, pCheckedBox, pEmptyBox) ++ idFieldColon ++
      formFieldFixes.map(_._1) ++ formColon ++ formNewline

  // --- _fix_table_text (text_processing.py:462-599) ----------------------

  private val pPipeSpace = compile("\\s*\\|\\s*")
  private val pEmptyCol = compile("\\|\\s+\\|")
  private val pWord = compile("\\S+")

  def fixTableText(text0: String): String = {
    val lines = splitLines(text0)
    if (lines.exists(_.contains('|')) || lines.exists(_.contains('\t'))) {
      val formatted = scala.collection.mutable.ArrayBuffer.empty[String]
      for (raw <- lines) {
        var line = raw.replace("\t", " | ")
        line = sub(pPipeSpace, " | ", line)
        line = subLit(pEmptyCol, "|", line)
        formatted += line
      }
      var tableText = formatted.mkString("\n")
      if (formatted.length > 1 && formatted(0).contains('|') && formatted(1).contains('|')) {
        val headerParts = split(formatted(0), '|')
        val sep = headerParts.map(p => "-" * strip(p).length).mkString("|")
        formatted.insert(1, sep)
        tableText = formatted.mkString("\n")
      }
      tableText
    } else {
      val wordsPositions = lines.map(l => finditer(pWord, l).map(m => (m.start, m.end)))
      if (wordsPositions.length > 2) {
        val colStarts = scala.collection.mutable.HashMap.empty[Int, Int]
        val colEnds = scala.collection.mutable.HashMap.empty[Int, Int]
        for (positions <- wordsPositions; (s, e) <- positions) {
          colStarts(s) = colStarts.getOrElse(s, 0) + 1
          colEnds(e) = colEnds.getOrElse(e, 0) + 1
        }
        val threshold = wordsPositions.length * 0.4
        val potential =
          (colStarts.iterator.collect { case (p, c) if c >= threshold => p } ++
            colEnds.iterator.collect { case (p, c) if c >= threshold => p }).toVector.sorted
        val boundaries = scala.collection.mutable.ArrayBuffer.empty[Int]
        var curr: Option[Int] = None
        for (pos <- potential) curr match {
          case None => curr = Some(pos)
          case Some(c) if pos - c < 5 => curr = Some((c + pos) / 2)
          case Some(c) => boundaries += c; curr = Some(pos)
        }
        curr.foreach(boundaries += _)
        if (boundaries.length >= 2) {
          val formatted = scala.collection.mutable.ArrayBuffer.empty[String]
          for (line <- lines) {
            if (strip(line).isEmpty) formatted += ""
            else {
              val nl = new StringBuilder
              var lastPos = 0
              for (b <- boundaries if b <= line.length) {
                nl.append(line.substring(lastPos, b)).append(" | ")
                lastPos = b
              }
              if (lastPos < line.length) nl.append(line.substring(lastPos))
              formatted += subLit(pEmptyCol, "|", nl.toString)
            }
          }
          if (formatted.length > 1) {
            val headerParts = split(formatted(0), '|')
            val sep = headerParts.map(p => "-" * strip(p).length).mkString("|")
            formatted.insert(1, sep)
          }
          formatted.mkString("\n")
        } else text0
      } else text0
    }
  }

  // --- _fix_indonesian_text (smartglass_ocr.py:663-780) ------------------
  // NOTE: dead in the reference's live path — detect_language returns
  // 'id' but the dispatch checks == 'ind' (smartglass_ocr.py:592-600);
  // provided for API completeness.

  private val indonesianFixes: Vector[(String, String)] = Vector(
    "l<epada" -> "kepada", "l<ami" -> "kami", "l<arena" -> "karena",
    "bal1wa" -> "bahwa", "adala11" -> "adalah", "dala1n" -> "dalam",
    "merniliki" -> "memiliki", "rnengenai" -> "mengenai",
    "dalarn" -> "dalam", "rnasa" -> "masa", "Nornor" -> "Nomor",
    "nornor" -> "nomor", "Narna" -> "Nama", "narna" -> "nama",
    "Ternpat" -> "Tempat", "ternpat" -> "tempat", "Tgl" -> "Tgl.",
    "pernerintah" -> "pemerintah", "Provinsl" -> "Provinsi",
    "Kabupaten/l<ota" -> "Kabupaten/Kota", "Kecarnatan" -> "Kecamatan",
    "Kelura11an" -> "Kelurahan", "Jenis l<elarnin" -> "Jenis Kelamin",
    "Golongan Dara11" -> "Golongan Darah", "l<ecarnatan" -> "Kecamatan",
    "Agarna" -> "Agama", "RT/RVV" -> "RT/RW", "RT /RW" -> "RT/RW",
    "PROVINSI" -> "PROVINSI", "KAB\\." -> "KAB.", "KEL\\." -> "KEL.",
    "KEC\\." -> "KEC."
  )
  private val pNikInd = compile("(?:NIK|N[l1]K)\\s*:?\\s*([0-9\\s\\.,]+)", I)
  private val pNikIndSub = compile("(?:NIK|N[l1]K)\\s*:?\\s*[0-9\\s\\.,]+", I)
  private val pAddress = compile(
    "(?:ALAMAT|Alamat)\\s*:?\\s*(.+?)(?=\\n\\s*(?:RT/RW|PROVINSI|KABUPATEN|KECAMATAN|KELURAHAN|NIK|AGAMA|\\s*$))",
    I | S)
  private val indIdFields = Vector(
    "NAMA", "TEMPAT/TGL LAHIR", "JENIS KELAMIN", "ALAMAT", "AGAMA",
    "STATUS PERKAWINAN", "PEKERJAAN", "KEWARGANEGARAAN", "BERLAKU HINGGA",
    "GOL. DARAH", "RT/RW", "KELURAHAN", "KECAMATAN", "PROVINSI", "KABUPATEN")
  private val indIdColon: Vector[Pattern] =
    indIdFields.map(f => compile("(" + Pattern.quote(f) + ")\\s+([^\\n:]+)", I))
  private val pWsRun = compile("\\s+")

  def fixIndonesianText(text0: String): String = {
    if (text0 == null || text0.isEmpty) return ""
    var t = text0
    for ((w, r) <- indonesianFixes) t = replaceWordLiteral(t, w, r, ignoreCase = false)
    search(pNikInd, t).foreach { m =>
      val digits = m.group(1).filter(Character.isDigit)
      if (digits.length >= 15 && digits.length <= 17) {
        val nik = zfill(digits.take(16), 16)
        val formatted = nik.grouped(4).mkString(" ")
        t = subLit(pNikIndSub, s"NIK: $formatted", t)
      }
    }
    for (m <- finditer(pDate, t)) {
      val Vector(day, month, year) = m.groups
      try {
        val d = day.toInt; val mo = month.toInt; var y = year.toInt
        if (d >= 1 && d <= 31 && mo >= 1 && mo <= 12) {
          if (y < 100) y = if (y < 50) 2000 + y else 1900 + y
          val fd = zfill(day, 2) + "-" + zfill(month, 2) + "-" + zfill(y.toString, 4)
          t = t.replace(m.group, fd)
        }
      } catch { case _: NumberFormatException => }
    }
    search(pAddress, t).foreach { m =>
      val address = sub(pWsRun, " ", strip(m.group(1)))
      t = subLit(pAddress, s"Alamat: $address", t)
    }
    for (p <- indIdColon) t = sub(p, "$1: $2", t)
    t
  }

  // --- clean_response_text (app/api/utils.py:97-122) ---------------------

  private val pNlRun = compile("\\n+")

  /** Final API projection applied to text/summary/insights
    * (app/api/routes.py:976-981). Converges after two applications. */
  def cleanResponseText(text: String): String = {
    if (text == null || text.isEmpty) return ""
    if (singleSpacedPlain(text)) strip(text) else cleanRewrite(text)
  }

  /** No backslash, and every Python-whitespace char (the `\s` class
    * Py.translate emits) is a ' ' with no whitespace neighbour: then
    * each of cleanRewrite's four rewrites is the identity. */
  private[graft] def singleSpacedPlain(s: String): Boolean = {
    var prevSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (prevSpace) return false
        prevSpace = true
      } else {
        if (c == '\\' || ((c < ' ' || c >= '\u0085') && isSpaceCp(c))) return false
        prevSpace = false
      }
      i += 1
    }
    true
  }

  /** The reference's four rewrites, then strip. */
  private[graft] def cleanRewrite(text: String): String = {
    var t = sub(pNlRun, " ", text)
    t = sub(pWsRun, " ", t)
    t = t.replace("\\", "")
    t = t.replace("\t", " ")
    t = t.replace("\r", "")
    strip(t)
  }
}
