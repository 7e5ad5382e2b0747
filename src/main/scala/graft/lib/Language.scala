package graft.lib

import Py._

/** Rule-based language detection [EQ]
  * (reference: lib/text_processing.py:1782-1857). */
object Language {

  val idKeywords: Vector[String] = Vector(
    "yang", "dengan", "dan", "untuk", "dari", "pada", "adalah", "ini", "itu",
    "dalam", "tidak", "akan", "saya", "kamu", "kami", "mereka", "bisa", "oleh",
    "jika", "telah", "sudah", "harus", "dapat", "karena", "kepada", "maka",
    "tentang", "setiap", "seperti", "juga", "ada", "sebuah", "tersebut",
    "anda", "sangat", "kemudian", "saat", "selama", "masih", "lebih",
    "belum", "ketika", "kita", "baru", "perlu")

  val enKeywords: Vector[String] = Vector(
    "the", "is", "are", "and", "for", "that", "have", "with", "this", "from",
    "they", "will", "would", "there", "their", "what", "about", "which",
    "when", "one", "all", "been", "but", "not", "you", "your", "who",
    "more", "has", "was", "were", "can", "said", "out", "use", "into",
    "some", "than", "other", "time", "now", "only", "like", "just")

  // each pattern behind its literal stem (Py.Gated): the patterns are
  // case-SENSITIVE and run against textLower itself, which is their
  // gate view (a "makan" false positive just means one confirming scan)
  private val idPatterns =
    Vector("akan" -> "\\bakan\\s+\\w+\\b", "sedang" -> "\\bsedang\\s+\\w+\\b",
      "telah" -> "\\btelah\\s+\\w+\\b").map { case (s, p) => Gated(compile(p), Seq(s)) }
  private val enPatterns =
    Vector("will" -> "\\bwill\\s+\\w+\\b", "have" -> "\\bhave\\s+\\w+\\b",
      "has" -> "\\bhas\\s+\\w+\\b").map { case (s, p) => Gated(compile(p), Seq(s)) }

  /** Every gated pattern of this object, for PropertySpec's soundness check. */
  private[graft] def gates: Seq[Gated] = idPatterns ++ enPatterns

  def detectLanguage(text: String): String = {
    if (text == null || text.isEmpty || Py.len(text) < 20) return "unknown"
    val textLower = " " + lower(text) + " "
    // One segment pass replaces 90 substring scans. Exactly equivalent:
    // textLower.contains(" w ") ⟺ w appears between two adjacent space
    // chars ⟺ w is a (non-empty) segment between consecutive ' '
    // positions of the padded text — every adjacent space pair forms a
    // window, so " a a " yields both "a" occurrences, and multi-space
    // runs yield the same empty segments contains() would skip.
    val segments = new java.util.HashSet[String](64)
    var prev = textLower.indexOf(' ')
    while (prev >= 0) {
      val next = textLower.indexOf(' ', prev + 1)
      if (next < 0) prev = -1
      else {
        if (next > prev + 1) segments.add(textLower.substring(prev + 1, next))
        prev = next
      }
    }
    val idCount = idKeywords.count(segments.contains)
    val enCount = enKeywords.count(segments.contains)
    var idScore = idCount.toDouble / idKeywords.length
    var enScore = enCount.toDouble / enKeywords.length
    idScore += idPatterns.count(_.search(textLower).isDefined) * 0.1
    enScore += enPatterns.count(_.search(textLower).isDefined) * 0.1
    if (idScore > 0.15 && idScore > enScore) "id"
    else if (enScore > 0.15) "en"
    else {
      var latinChars = 0
      var totalChars = 0
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        if (isAlphaCp(cp)) {
          totalChars += 1
          if (cp < 128) latinChars += 1
        }
        i += Character.charCount(cp)
      }
      if (totalChars > 0) {
        val ratio = latinChars.toDouble / totalChars
        if (ratio > 0.9) "latin"
        else if (ratio < 0.3) "non-latin"
        else "unknown"
      } else "unknown"
    }
  }
}
