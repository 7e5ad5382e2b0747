package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.lib.{Formatters, InfoExtract, Language, Py, Summarizer, TextCorrections}
import graft.model.Turn

/** Property tests (SURVEY.md §5.2.3): totality of the pipeline on
  * arbitrary input, idempotence where the reference is idempotent, and
  * the post-format charset invariant. */
class PropertySpec extends AnyFunSuite {

  /** Deterministic sampling from a Gen (seeded, no scalatestplus bridge). */
  private def samples[A](gen: Gen[A], n: Int): Seq[A] = {
    val params = Gen.Parameters.default
    (0 until n).flatMap(i => gen.apply(params, Seed(42L + i)))
  }

  private val tools = Gen.oneOf("plain", "document", "receipt", "id_card",
    "form", "table", "signage", "scientific", "multi_column", "html", "book_page")

  // Mixed generator: ASCII-ish lines + separators + nasty unicode
  private val nastyChars = Gen.oneOf(
    '\u0000', '\t', '\n', '\r', '\u00a0', '\u2028', '\u2029', '•', '‣', '▪',
    '|', ':', '$', '\\', '`', '"', '\'', '☑', '€', 'é', 'Ω', '中')
  private val astral = Gen.oneOf("😀", "🎉", "𝔸", "🚀")
  private val token = Gen.frequency(
    (8, Gen.alphaNumStr.map(_.take(12))),
    (2, Gen.listOfN(3, nastyChars).map(_.mkString)),
    (1, astral),
    (1, Gen.oneOf("TOTAL", "NIK", "12.50", "1/2/95", "First Name", "[x]", "E = mc^2")))
  private val textGen: Gen[String] =
    Gen.listOf(Gen.frequency((6, token), (2, Gen.const(" ")), (2, Gen.const("\n"))))
      .map(_.mkString).map(_.take(2000))

  test("extract is total on arbitrary unicode input (never throws)") {
    val toolList = samples(tools, 300)
    for ((text, tool) <- samples(textGen, 300).zip(toolList)) {
      val r = Extractor.extract(Turn("c", 0, "user", text, tool, new Timestamp(0L)))
      assert(r.text != null && r.status != null && r.markdown != null)
    }
  }

  test("extract is total on null/empty/whitespace") {
    for (t <- Seq(null, "", " ", "\n\n", " ", "\t\r\n"); tool <- Seq("plain", "table", null)) {
      val r = Extractor.extract(Turn("c", 0, "user", t, tool, new Timestamp(0L)))
      assert(r.status == "poor_quality")
    }
  }

  test("clean_response_text converges after two applications") {
    // NOT idempotent in one pass (matching the reference): removing
    // backslashes can merge whitespace runs ("x\ \ y" → "x  y") —
    // routes.py re-cleans in the task_status path relying on this.
    // After one pass no backslashes remain, so pass 2 is a fixed point.
    for (text <- samples(textGen, 200)) {
      val twice = TextCorrections.cleanResponseText(TextCorrections.cleanResponseText(text))
      assert(TextCorrections.cleanResponseText(twice) == twice)
    }
  }

  test("clean_response_text fast path == the four rewrites on fuzz input") {
    // The fast path returns strip(text) when the text has no backslash
    // and every Python-whitespace char is a lone ' '. Its whitespace test
    // is Py.isSpaceCp, which must be the \s class Py.translate emits.
    val ws = java.util.regex.Pattern.compile("[" + Py.wsClass + "]")
    for (cp <- 0 to 0x10FFFF if cp < 0xD800 || cp > 0xDFFF)
      assert(Py.isSpaceCp(cp) == ws.matcher(new String(Character.toChars(cp))).matches(),
        f"U+$cp%04X")
    val texts = samples(textGen, 300)
    val inputs = texts ++ texts.map(_.replace('\n', ' ')) ++
      texts.map(TextCorrections.cleanRewrite) ++
      Seq("a b", " a b ", "a  b", "a\u00a0b", "a \u2028b", "a\\b", "a\tb", "x\u0085y", "\u3000")
    var fast = 0
    for (t <- inputs if t.nonEmpty) {
      if (TextCorrections.singleSpacedPlain(t)) fast += 1
      assert(TextCorrections.cleanResponseText(t) == TextCorrections.cleanRewrite(t),
        s"fast path differs on ${t.take(60)}")
    }
    assert(fast >= 200, s"fast path taken only $fast times")
  }

  test("literal-stem gates: a closed gate never hides a match") {
    // Soundness of every Py.Gated table: !opens(view(s)) => no match.
    // The planted labels are written here, apart from the tables'
    // stems, so a stem that drifts from its pattern (a typo, a dropped
    // alternative) closes the gate on a planted match and fails.
    val gates = InfoExtract.gates ++ TextCorrections.gates ++ Summarizer.gates ++ Language.gates
    val labels = Seq(
      // ID-card fields and labels
      "name", "nama", "date of birth", "birth date", "birthdate", "dob", "tanggal lahir",
      "gender", "sex", "jenis kelamin", "address", "alamat", "id", "no", "number",
      "nomor", "nomor kartu", "expiration", "expiry", "exp", "berlaku sampai", "issue",
      "issued", "date of issue", "tanggal dikeluarkan", "nationality", "negara",
      "warga negara", "citizenship", "place of birth", "birthplace", "tempat lahir",
      "blood", "blood type", "golongan darah", "marital status", "status perkawinan",
      "occupation", "job", "pekerjaan", "religion", "agama",
      // receipt and form fields
      "date", "tanggal", "time", "waktu", "subtotal", "sub total", "sub-total", "tax",
      "vat", "pajak", "total", "amount", "jumlah", "email", "e-mail", "phone",
      "telephone", "tel", "hp", "handphone", "company", "perusahaan", "department",
      "departemen",
      // form fixer, both cases of the leading letter, spaced and fused
      "First Name", "first name", "firstName", "Last Name", "last name", "Middle Name",
      "middleName", "Full Name", "full name", "Address", "City", "city", "State",
      "state", "Zip Code", "zipcode", "Postal Code", "postal Code", "Country", "country",
      "Email", "Phone", "Mobile", "mobile", "Date of Birth", "date Of birth",
      "DateofBirth", "Gender", "Occupation", "Company", "Department", "Signature",
      "signature", "Date",
      // ID-card fixer, NIK and the checkbox pair
      "NAMA", "ALAMAT", "TEMPAT/TGL LAHIR", "JENIS KELAMIN", "AGAMA", "STATUS PERKAWINAN",
      "PEKERJAAN", "KEWARGANEGARAAN", "BERLAKU HINGGA", "DESA/KELURAHAN", "KECAMATAN",
      "KABUPATEN", "PROVINSI", "NIK", "[x]", "[ X ]", "[\u2713]", "[ ]", "[]",
      // insight phrases and language markers
      "key point", "main fact", "critical finding", "important conclusion", "in summary",
      "to  summarize", "in conclusion", "concluding", "therefore", "must", "should",
      "need to", "have to", "increase", "decrease", "improve", "reduce", "enhance",
      "cause", "akan", "sedang", "telah", "will", "have", "has")
    // CI look-alikes: each folds (Py.regexCiFold) onto an ASCII letter
    val lookAlikes = Seq('s' -> "\u017f", 'k' -> "\u212a", 'i' -> "\u0131", 'i' -> "\u0130")
    def variants(l: String): Seq[String] =
      Seq(l, l.toUpperCase, l.capitalize) ++ lookAlikes.collect {
        case (c, r) if l.toLowerCase.indexOf(c) >= 0 => l.toLowerCase.replace(c.toString, r)
      }
    def contexts(l: String): Seq[String] = Seq(
      s"$l: Jane Roe 1234\nnext", s"$l 12:30 PM 12/03/1990\n", s"  $l   value two\n",
      s"intro\n$l\nvalue", s"$l:\tv\u00a0w\n$l\u2003:\nx", s"\ud835\udd38$l:\ud83d\ude00 3201 2345 6789 0123 x",
      s"the $l will rise - \n sedang jalan, has been [x] \n\n\n$l-\nend")
    val fuzz = samples(textGen, 300)
    val planted = labels.flatMap(variants).flatMap(contexts) ++ fuzz ++
      fuzz.zipWithIndex.map { case (f, i) =>
        val (a, b) = f.splitAt(f.length / 2); a + labels(i % labels.length) + ": v\n" + b
      }
    val hits = new Array[Int](gates.length)
    for (s <- planted; (g, k) <- gates.zipWithIndex) {
      val found = g.pattern.matcher(s).find()
      if (found) hits(k) += 1
      assert(!found || g.opens(g.view(s)),
        s"gate ${g.stems} closed on a match of /${g.pattern.pattern}/ in ${s.take(60)}")
    }
    // every gated pattern matched some planted string: none is vacuous
    val unhit = gates.indices.filter(hits(_) == 0).map(k => gates(k).pattern.pattern)
    assert(unhit.isEmpty, s"patterns never matched: $unhit")
  }

  test("format_text output matches the charset whitelist (text_processing.py:1208)") {
    val allowed = Py.compile("[\\w\\s.!?,;:()\"'•\\-\\n]")
    for (text <- samples(textGen, 200)) {
      val out = Formatters.formatText(text)
      val bad = out.codePoints().toArray.filterNot { cp =>
        allowed.matcher(new String(Character.toChars(cp))).matches()
      }
      assert(bad.isEmpty, s"disallowed chars ${bad.map(Integer.toHexString).mkString(",")} in ${out.take(80)}")
    }
  }

  test("replaceWordLiteral ≡ the generic \\bWORD\\b regex on fuzz input") {
    val words = Seq("TOTAI", "NO.", "THANI< YOU", "CASI-I", "tbe", "KAB\\.", "NIK")
    for (text <- samples(textGen, 200); w <- words) {
      val fast = Py.replaceWordLiteral(text, w, "XX", ignoreCase = false)
      val p = Py.compile("\\b" + java.util.regex.Pattern.quote(w) + "\\b")
      val slow = Py.subLit(p, "XX", text)
      assert(fast == slow, s"scanner != regex for word '$w' on ${text.take(60)}")
      val fastI = Py.replaceWordLiteral(text, w, "XX", ignoreCase = true)
      val pI = Py.compile("\\b" + java.util.regex.Pattern.quote(w) + "\\b", Py.I)
      assert(fastI == Py.subLit(pI, "XX", text), s"icase scanner != regex for '$w'")
    }
  }

  test("extraction result is invariant under input order (pure per-row)") {
    for (texts <- samples(Gen.listOfN(10, textGen), 20)) {
      val turns = texts.zipWithIndex.map { case (t, i) =>
        Turn("c", i, "user", t, "document", new Timestamp(0L))
      }
      val a = turns.map(Extractor.extract)
      val b = turns.reverse.map(Extractor.extract).reverse
      assert(a.map(_.text) == b.map(_.text))
    }
  }

  test("regexCiFold == Java regex CI|UNICODE_CASE literal matching, exhaustively") {
    // Soundness pin for the CI literal-stem gates (Py.Gated): a gate
    // may skip the CI regex only if NO input codepoint can match the
    // ASCII stem letters. Java's case-insensitive literal nodes test
    // toLowerCase(toUpperCase(c)) equality — assert our fold agrees
    // with the real matcher over the whole BMP and the case-mapped
    // astral blocks, both directions, for every ASCII letter.
    import java.util.regex.Pattern
    val pats = ('a' to 'z').map(c =>
      c -> Pattern.compile(c.toString,
        Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)).toArray
    val ranges = Seq((0x0, 0xD7FF), (0xE000, 0xFFFF), (0x10000, 0x110FF),
      (0x16E40, 0x16E7F), (0x1E900, 0x1E9FF))
    var checked = 0L
    for ((lo, hi) <- ranges; cp <- lo to hi) {
      val s = new String(Character.toChars(cp))
      val fold = Py.regexCiFold(cp)
      var k = 0
      while (k < pats.length) {
        val (p, pat) = pats(k)
        val m = pat.matcher(s).matches()
        val foldEq = fold == p.toInt
        assert(m == foldEq,
          f"cp=U+$cp%04X vs '$p': regex=$m foldEq=$foldEq")
        k += 1
        checked += 1
      }
    }
    assert(checked > 1700000L)
  }
}
