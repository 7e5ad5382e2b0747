package graft.lib

import java.util.regex.{Matcher, Pattern}

/** Helpers replicating CPython string/regex semantics on the JVM.
  *
  * The extraction contract (see SURVEY.md §1.3, §7.4) is byte-exact
  * equality with the reference's pure-Python text pipeline
  * (reference: lib/text_processing.py). Python's `str` operations and
  * the `re` module differ from `java.lang.String`/`java.util.regex` in
  * ways that silently break parity; everything in the hot path goes
  * through these helpers instead.
  */
object Py {

  /** Code points Python's `str.isspace()` / `re` `\s` treat as whitespace. */
  private val WS: Set[Int] = Set(
    0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x1c, 0x1d, 0x1e, 0x1f, 0x20, 0x85, 0xa0,
    0x1680, 0x2000, 0x2001, 0x2002, 0x2003, 0x2004, 0x2005, 0x2006, 0x2007,
    0x2008, 0x2009, 0x200a, 0x2028, 0x2029, 0x202f, 0x205f, 0x3000)

  def isSpaceCp(cp: Int): Boolean = WS.contains(cp)

  /** Python-whitespace character class usable inside Java regex.
    * Python `\s` = Unicode White_Space plus the C0 information
    * separators \x1C-\x1F; the property form compiles to a fast
    * predicate instead of a 12-range union. */
  val wsClass: String = "\\p{IsWhite_Space}\\x1C-\\x1F"

  /** Python `str.strip()` — strips Python-whitespace from both ends. */
  def strip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isSpaceCp(s.codePointAt(i))) i += Character.charCount(s.codePointAt(i))
    while (j > i) {
      val cp = s.codePointBefore(j)
      if (!isSpaceCp(cp)) return s.substring(i, j)
      j -= Character.charCount(cp)
    }
    s.substring(i, j)
  }

  def isBlank(s: String): Boolean = strip(s).isEmpty

  /** Python `len(str)` — counts code points, not UTF-16 units. */
  def len(s: String): Int = s.codePointCount(0, s.length)

  /** Python `s[:n]` — code-point slice. */
  def sliceTo(s: String, n: Int): String = {
    if (n <= 0) return ""
    if (s.codePointCount(0, s.length) <= n) return s
    s.substring(0, s.offsetByCodePoints(0, n))
  }

  /** Python `str.split(sep)` — keeps leading/trailing empty fields. */
  def split(s: String, sep: Char): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == sep) { out += s.substring(start, i); start = i + 1 }
      i += 1
    }
    out += s.substring(start)
    out.toArray
  }

  def splitLines(s: String): Array[String] = split(s, '\n')

  /** Python `str.split()` (no args): split on Python-whitespace runs,
    * dropping empty fields. Java's `"\\s+"` misses \x1c-\x1f etc. */
  def pySplitWs(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    var start = -1
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (isSpaceCp(cp)) {
        if (start >= 0) { out += s.substring(start, i); start = -1 }
      } else if (start < 0) start = i
      i += Character.charCount(cp)
    }
    if (start >= 0) out += s.substring(start)
    out.result()
  }

  /** Python `str.lower()` (ROOT locale; full mappings match for the
    * character repertoire the pipeline handles). */
  def lower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** Python `str.zfill(width)` for non-negative digit strings. */
  def zfill(s: String, width: Int): String =
    if (s.length >= width) s else ("0" * (width - s.length)) + s

  /** Python `str.isdigit()` per char (used char-wise in reference). */
  def isDigit(c: Char): Boolean = Character.isDigit(c)

  /** Python `str.isupper()` for a single char. */
  def isUpper(c: Char): Boolean = Character.isUpperCase(c)

  /** Python `str.isalpha()` for a code point. */
  def isAlphaCp(cp: Int): Boolean = Character.isLetter(cp)

  /** Python `str.title()` — capitalize each run of cased letters. */
  def title(s: String): String = {
    val sb = new StringBuilder
    var prevCased = false
    s.foreach { c =>
      if (Character.isLetter(c)) {
        sb.append(if (prevCased) Character.toLowerCase(c) else Character.toUpperCase(c))
        prevCased = true
      } else { sb.append(c); prevCased = false }
    }
    sb.toString
  }

  // --- regex -----------------------------------------------------------

  /** Python word-char class: `str.isalnum()` ∪ {_} = letters + all
    * numeric categories + underscore. CRITICALLY this EXCLUDES combining
    * marks (Mn/Mc/Me), which Java's UNICODE_CHARACTER_CLASS `\w`
    * includes — the fuzz goldens caught decomposed accents surviving the
    * format_text whitelist on the JVM but not in CPython. */
  private val wordClass = "\\p{L}\\p{N}_"

  /** Translate a Python `re` pattern into a Java pattern with CPython
    * semantics for `\w \W \s \S \d \b`: explicit character classes
    * instead of Java's (?U) definitions, and `\b` as lookarounds over
    * the Python word class. Handles escapes, character classes, and
    * `\Q...\E` quoted runs (from Pattern.quote).
    */
  def translate(py: String): String = {
    val sb = new StringBuilder
    var i = 0
    var inClass = false
    while (i < py.length) {
      val c = py.charAt(i)
      if (c == '\\' && i + 1 < py.length) {
        val e = py.charAt(i + 1)
        e match {
          case 'Q' =>
            val end = py.indexOf("\\E", i + 2)
            val stop = if (end < 0) py.length else end + 2
            sb.append(py.substring(i, stop)); i = stop - 2
          case 'w' => sb.append(if (inClass) wordClass else s"[$wordClass]")
          case 'W' =>
            require(!inClass, s"\\W inside class unsupported: $py")
            sb.append(s"[^$wordClass]")
          case 's' => sb.append(if (inClass) wsClass else s"[$wsClass]")
          case 'S' =>
            require(!inClass, s"\\S inside class unsupported: $py")
            sb.append(s"[^$wsClass]")
          case 'd' => sb.append(if (inClass) "\\p{Nd}" else "[\\p{Nd}]")
          case 'D' =>
            require(!inClass, s"\\D inside class unsupported: $py")
            sb.append("[^\\p{Nd}]")
          case 'b' if !inClass =>
            // Specialize by context where provable: a \b adjacent to an
            // atom that can only match word chars reduces to a single
            // lookaround (and keeps Java's literal-prefix scan alive for
            // \bWORD... patterns, which the generic alternation defeats).
            if (nextIsWordAtom(py, i + 2))
              sb.append(s"(?<![$wordClass])")
            else if (prevIsWordAtom(py, i - 1))
              sb.append(s"(?![$wordClass])")
            else
              sb.append(s"(?:(?<=[$wordClass])(?![$wordClass])|(?<![$wordClass])(?=[$wordClass]))")
          case _ => sb.append(c).append(e)
        }
        i += 2
      } else {
        if (c == '[' && !inClass) inClass = true
        else if (c == ']' && inClass) inClass = false
        sb.append(c)
        i += 1
      }
    }
    sb.toString
  }

  private def isAsciiWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** Does the atom starting at `j` only ever match word characters?
    * Conservative: literal ASCII word char, \Q-run starting with one,
    * \d / \w escapes, or a character class of word-only chars/ranges. */
  private def nextIsWordAtom(py: String, j: Int): Boolean = {
    if (j >= py.length) return false
    val c = py.charAt(j)
    if (isAsciiWord(c)) return true
    if (c == '\\' && j + 1 < py.length) {
      val e = py.charAt(j + 1)
      if (e == 'd' || e == 'w') return true
      if (e == 'Q' && j + 2 < py.length) return isAsciiWord(py.charAt(j + 2))
      return false
    }
    if (c == '[') return wordOnlyClass(py, j)
    if (c == '(') { // skip group openings ( (?: (?i) etc. up to the first atom
      var k = j + 1
      if (k < py.length && py.charAt(k) == '?') {
        k += 1
        while (k < py.length && "imsx:".indexOf(py.charAt(k)) >= 0 && py.charAt(k) != ':') k += 1
        if (k < py.length && py.charAt(k) == ':') k += 1
      }
      return nextIsWordAtom(py, k)
    }
    false
  }

  /** Does the atom ending at index `j` (inclusive) only match word chars? */
  private def prevIsWordAtom(py: String, j: Int): Boolean = {
    if (j < 0) return false
    val c = py.charAt(j)
    // quantifier → inspect the atom before it
    if (c == '+' || c == '*' || c == '?' || c == '}') {
      if (c == '}') {
        val open = py.lastIndexOf('{', j)
        if (open <= 0) return false
        return prevIsWordAtom(py, open - 1)
      }
      return prevIsWordAtom(py, j - 1)
    }
    if (c == 'E' && j >= 1 && py.charAt(j - 1) == '\\') {
      // end of a \Q...\E run — check its last literal char
      val q = py.lastIndexOf("\\Q", j)
      if (q < 0 || j - 2 < q + 2) return false
      return isAsciiWord(py.charAt(j - 2))
    }
    if (isAsciiWord(c)) {
      // make sure it's a literal, not the letter of an escape like \d
      if (j >= 1 && py.charAt(j - 1) == '\\') {
        val e = c
        return e == 'd' || e == 'w' // \d \w match word chars; \n \t etc do not
      }
      return true
    }
    if (c == ']') {
      val open = py.lastIndexOf('[', j)
      if (open < 0) return false
      return wordOnlyClass(py, open)
    }
    false
  }

  /** True if the class starting at `[` contains only word-char literals
    * and ranges (e.g. [a-zA-Z0-9_], [A-Z]). */
  private def wordOnlyClass(py: String, open: Int): Boolean = {
    var k = open + 1
    if (k < py.length && py.charAt(k) == '^') return false
    var ok = true
    while (k < py.length && py.charAt(k) != ']') {
      val c = py.charAt(k)
      if (c == '\\') { ok = false; k += 2 }
      else { if (!isAsciiWord(c) && c != '-') ok = false; k += 1 }
    }
    ok && k < py.length
  }

  def compile(pyPattern: String, flags: Int = 0): Pattern =
    // UNIX_LINES: CPython treats ONLY \n as a line terminator for
    // . ^ $ — Java otherwise also breaks on \r \u0085 \u2028 \u2029
    // (the fuzz blast caught '.' refusing to cross a \r).
    Pattern.compile(translate(pyPattern), flags | Pattern.UNICODE_CASE | Pattern.UNIX_LINES)

  /** Python `re.sub(r'\b' + re.escape(word) + r'\b', repl, text)` for a
    * LITERAL word — hand-rolled indexOf scan with word-boundary checks.
    * The \b regex form defeats Java's fast literal search; the fix
    * chains (receipt/ID/Indonesian word dictionaries) are hot.
    */
  def replaceWordLiteral(text: String, word: String, repl: String, ignoreCase: Boolean): String = {
    if (word.isEmpty) return text
    def isWordCp(cp: Int): Boolean =
      Character.isLetter(cp) || Character.getType(cp) == Character.DECIMAL_DIGIT_NUMBER ||
        Character.getType(cp) == Character.LETTER_NUMBER ||
        Character.getType(cp) == Character.OTHER_NUMBER || cp == '_'
    // boundary requirement at each end depends on the word's own ends
    val startWord = isWordCp(word.codePointAt(0))
    val endWord = isWordCp(word.codePointBefore(word.length))
    var sb: java.lang.StringBuilder = null
    var i = 0
    var last = 0
    val n = text.length
    val m = word.length
    while (i <= n - m) {
      val hit =
        if (ignoreCase) text.regionMatches(true, i, word, 0, m)
        else text.regionMatches(i, word, 0, m)
      if (hit) {
        val okLeft =
          if (!startWord) i > 0 && isWordCp(text.codePointBefore(i)) // \b before non-word char
          else i == 0 || !isWordCp(text.codePointBefore(i))
        val okRight =
          if (!endWord) i + m < n && isWordCp(text.codePointAt(i + m))
          else i + m >= n || !isWordCp(text.codePointAt(i + m))
        if (okLeft && okRight) {
          if (sb == null) sb = new java.lang.StringBuilder(n + 16)
          sb.append(text, last, i).append(repl)
          i += m
          last = i
        } else i += 1
      } else i += 1
    }
    if (sb == null) text
    else { sb.append(text, last, n); sb.toString }
  }

  val I: Int = Pattern.CASE_INSENSITIVE
  val M: Int = Pattern.MULTILINE
  val S: Int = Pattern.DOTALL

  /** Java-regex CASE_INSENSITIVE|UNICODE_CASE single-char equivalence
    * class representative: Pattern's case-insensitive single matcher
    * tests `toLowerCase(toUpperCase(cp))` equality, so input cp can
    * match an ASCII pattern letter p iff regexCiFold(cp) == p.
    * (Exhaustively spec-pinned over the BMP + case-mapped astral
    * blocks — used only to GATE case-insensitive literal scans, see
    * [[Gated]].) */
  def regexCiFold(cp: Int): Int = Character.toLowerCase(Character.toUpperCase(cp))

  /** Per-codepoint CI fold of a string (length can change only via
    * surrogate pairs folding to BMP, never per-codepoint expansion —
    * Character case maps are 1:1). ASCII fast path. */
  def foldForCi(s: String): String = {
    var i = 0
    var ascii = true
    while (i < s.length && ascii) { if (s.charAt(i) >= 128) ascii = false; i += 1 }
    if (ascii) return s.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(s.length)
    var j = 0
    while (j < s.length) {
      val cp = s.codePointAt(j)
      sb.appendCodePoint(regexCiFold(cp))
      j += Character.charCount(cp)
    }
    sb.toString
  }

  /** A regex behind an exact literal prerequisite: `pattern` can match a
    * string only if the string's [[Gated.view]] contains one of `stems`.
    * The view is the string itself for a case-sensitive pattern and its
    * [[foldForCi]] for a CASE_INSENSITIVE one (stems then given folded),
    * so every alternative of the pattern must contain a stem as a
    * contiguous literal — no class, `\s` or quantifier inside it.
    * PropertySpec checks every table of these. A closed gate skips only
    * a scan that cannot match; an open one runs the regex unchanged. */
  final case class Gated(pattern: Pattern, stems: Seq[String]) {
    val ci: Boolean = (pattern.flags & Pattern.CASE_INSENSITIVE) != 0
    require(!ci || stems.forall(s => foldForCi(s) == s), s"CI stems must be folded: $stems")

    def view(s: String): String = if (ci) foldForCi(s) else s

    /** `view` must be [[view]] of the string the pattern would scan. */
    def opens(view: String): Boolean = stems.exists(view.contains)

    def search(s: String, view: String): Option[Matcher] =
      if (opens(view)) Py.search(pattern, s) else None

    def search(s: String): Option[Matcher] = search(s, view(s))

    def sub(repl: String, s: String): String =
      if (opens(view(s))) Py.sub(pattern, repl, s) else s

    def subLit(repl: String, s: String): String =
      if (opens(view(s))) Py.subLit(pattern, repl, s) else s
  }

  /** re.sub(pattern, repl, s) with repl already in Java `$n` form. */
  def sub(p: Pattern, repl: String, s: String): String = p.matcher(s).replaceAll(repl)

  /** re.sub with a literal (no backrefs) replacement. */
  def subLit(p: Pattern, repl: String, s: String): String =
    p.matcher(s).replaceAll(Matcher.quoteReplacement(repl))

  /** re.search → Option[Matcher positioned at first match]. */
  def search(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.find()) Some(m) else None
  }

  /** re.match → Option[Matcher anchored at start (prefix match)]. */
  def rmatch(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.lookingAt()) Some(m) else None
  }

  /** re.findall for a pattern with no groups: list of full matches. */
  def findall(p: Pattern, s: String): Vector[String] = {
    val m = p.matcher(s)
    val out = Vector.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** re.findall match count (non-overlapping, same scan semantics). */
  def countMatches(p: Pattern, s: String): Int = {
    val m = p.matcher(s)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** re.finditer → materialized (start, end, groups) triples. */
  final case class Mt(start: Int, end: Int, group: String, groups: Vector[String])
  def finditer(p: Pattern, s: String): Vector[Mt] = {
    val m = p.matcher(s)
    val out = Vector.newBuilder[Mt]
    while (m.find())
      out += Mt(m.start, m.end, m.group, (1 to m.groupCount).map(i => m.group(i)).toVector)
    out.result()
  }

  /** re.split keeping trailing empties (Python semantics). */
  def resplit(p: Pattern, s: String): Array[String] = p.split(s, -1)
}
