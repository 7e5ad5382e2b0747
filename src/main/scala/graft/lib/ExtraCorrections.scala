package graft.lib

import Py._

/** API-completeness corrections outside the live request path.
  *
  * `clean_text` (reference lib/utils.py:291-338) is a library helper
  * imported but not called in the main path; `_apply_general_text_
  * corrections` (lib/text_processing.py:601-709) is defined but never
  * called. Both are part of the reference's exported surface, so a user
  * switching engines can still call them; both are golden-tested.
  */
object ExtraCorrections {

  // --- clean_text (utils.py:291-338) --------------------------------------

  private val pDigL = compile("(?<=\\d)l(?=\\d)")
  private val pDigO = compile("(?<=\\d)O(?=\\d)")
  private val pDigI = compile("(?<=\\d)I(?=\\d)")
  private val cleanWordFixes: Vector[(String, String)] = Vector(
    "tbe" -> "the", "arid" -> "and", "rnay" -> "may",
    "Iine" -> "line", "tirne" -> "time")
  private val pLowUp = compile("(?<=[a-z])(?=[A-Z])")
  private val pWsRun = compile("\\s+")
  private val pManyNl = compile("\\n{3,}")

  def cleanText(text: String): String = {
    if (text == null || text.isEmpty) return ""
    var t = TextCorrections.bmpFilter(text)
    t = sub(pDigL, "1", t)
    t = sub(pDigO, "0", t)
    t = sub(pDigI, "1", t)
    for ((w, r) <- cleanWordFixes) t = replaceWordLiteral(t, w, r, ignoreCase = false)
    t = sub(pLowUp, " ", t)
    t = sub(pWsRun, " ", t)
    // dead in effect (the \s+ collapse above already ate newlines) but
    // kept in the reference's order (utils.py:334)
    t = sub(pManyNl, "\n\n", t)
    strip(t)
  }

  // --- _apply_general_text_corrections (text_processing.py:601-709) --------

  private val commonErrors: Vector[(String, String)] = Vector(
    "tbe" -> "the", "arid" -> "and", "ofthe" -> "of the",
    "forthe" -> "for the", "tothe" -> "to the", "inthe" -> "in the",
    "fromthe" -> "from the", "onthe" -> "on the", "withthe" -> "with the",
    "atthe" -> "at the", "isthe" -> "is the", "wasthe" -> "was the",
    "asthe" -> "as the", "bythe" -> "by the", "thatthe" -> "that the",
    "butthe" -> "but the", "andthe" -> "and the", "Tbis" -> "This",
    "ca11" -> "call", "cornpany" -> "company", "frorn" -> "from",
    "systern" -> "system", "rnay" -> "may", "Iine" -> "line",
    "tirne" -> "time", "Iist" -> "list", "Iike" -> "like",
    "sirnple" -> "simple", "sarne" -> "same", "frorntbe" -> "from the"
  )
  private val pEmail = compile("\\b[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}\\b")
  private val pUrl = compile("\\b(?:https?://|www\\.)[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}[^\\s]*\\b")
  private val pHyphenNl = compile("(\\w+)-\\n(\\w+)")

  def applyGeneralTextCorrections(text: String): String = {
    if (text == null || text.isEmpty) return ""
    // identical head to post_process_text (quotes, bullets, digit
    // confusions, spacing) — reuse via the same transformations
    var t = TextCorrections.postProcessHead(text)
    for ((w, r) <- commonErrors) t = replaceWordLiteral(t, w, r, ignoreCase = false)
    t = sub(pManyNl, "\n\n", t)
    t = sub(pHyphenNl, "$1$2", t)
    for (email <- findall(pEmail, t)) {
      val fixed = email.replace(" ", "").replace(",", ".").replace(";", ".")
      t = t.replace(email, fixed)
    }
    for (url <- findall(pUrl, t)) {
      val fixed = url.replace(" ", "").replace(",", ".").replace(";", ".")
      t = t.replace(url, fixed)
    }
    t
  }
}
