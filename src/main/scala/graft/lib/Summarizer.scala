package graft.lib

import Py._

/** Extractive summarization + key-insight extraction [EQ].
  *
  * Ports the reference's deterministic regex paths — the NLTK branches
  * are unreachable in the golden environment (NLTK absent forces
  * lib/text_processing.py:1877-1882 and :2315-2344 fallbacks).
  */
object Summarizer {

  private val pSentSplit = compile("(?<=[.!?])\\s+")
  private val pWordAZ = compile("\\b[a-zA-Z]+\\b")

  private val simpleStopwords = Set(
    "a", "an", "the", "and", "or", "but", "if", "because", "as", "what",
    "when", "where", "how", "which", "who", "whom", "this", "that", "these",
    "those", "then", "just", "so", "than", "such", "both", "through", "about",
    "for", "is", "of", "while", "during", "to", "from")

  private val keyTerms = Vector(
    "summary", "conclusion", "result", "important", "significant",
    "key", "main", "primary", "critical", "essential", "crucial")

  def splitSentences(text: String): Array[String] = resplit(pSentSplit, text)

  /** _generate_extractive_summary_regex (text_processing.py:2033-2130). */
  def generateSummary(text: String, maxLength: Int = 200, style: String = "concise"): String = {
    if (text == null || text.isEmpty) return ""
    if (len(text) < 100) return sliceTo(text, maxLength)

    val sentences = splitSentences(text)
    // Tokenize each sentence ONCE (lower + word findall were previously
    // recomputed in the scoring loop — pure caching, identical values).
    val lowered = sentences.map(lower)
    val sentWords = lowered.map(findall(pWordAZ, _))
    // Word frequency over all sentences (stopwords excluded from counts).
    val wordCounts = scala.collection.mutable.HashMap.empty[String, Int]
    for (words <- sentWords; w <- words)
      if (!simpleStopwords.contains(w)) wordCounts(w) = wordCounts.getOrElse(w, 0) + 1

    // Scores in ascending-index insertion order (ties stay index-ordered
    // through the stable sort, matching Python's sorted()).
    val scored = Vector.newBuilder[(Int, Double)]
    for (i <- sentences.indices) {
      val sentence = sentences(i)
      if (len(strip(sentence)) >= 10) {
        var score = 0.0
        if (i == 0) score += 5
        else if (i == sentences.length - 1) score += 3
        else if (i < sentences.length * 0.1) score += 2
        val words = sentWords(i)
        if (words.nonEmpty) {
          val ws = words.iterator
            .filter(w => !simpleStopwords.contains(w))
            .map(w => wordCounts.getOrElse(w, 0)).sum.toDouble / words.length
          score += ws
        }
        val sl = lowered(i)
        if (keyTerms.exists(sl.contains)) score += 3
        scored += ((i, score))
      }
    }
    val sentenceScores = scored.result()

    val avgSentLength =
      if (sentences.nonEmpty) sentences.map(s => len(s)).sum.toDouble / sentences.length else 20.0
    var target = math.max(1, (maxLength / avgSentLength).toInt)
    if (style == "detailed") target = math.min((target * 1.5).toInt, sentences.length)
    else if (style == "concise") target = math.max(1, (target * 0.7).toInt)

    val topIndices = sentenceScores.sortBy(-_._2).take(target).map(_._1).sorted
    val summary = topIndices.filter(_ < sentences.length).map(sentences(_)).mkString(" ")

    style match {
      case "bullets" => formatAsBulletPoints(summary)
      case "structured" => formatAsStructuredSummary(summary)
      case _ =>
        if (len(summary) > maxLength) sliceTo(summary, maxLength - 3) + "..."
        else summary
    }
  }

  /** _format_as_bullet_points (text_processing.py:2132-2160). */
  def formatAsBulletPoints(summary: String): String = {
    val out = Vector.newBuilder[String]
    for (sentence <- resplit(pSentSplit, summary)) {
      if (strip(sentence).nonEmpty) {
        var s = strip(sentence)
        val last = s.charAt(s.length - 1)
        if (last != '.' && last != '!' && last != '?') s += "."
        out += s"• $s"
      }
    }
    out.result().mkString("\n")
  }

  private val pName = compile("\\b[A-Z][a-z]+(?:\\s+[A-Z][a-z]+){1,2}\\b")
  private val pOrg1 = compile(
    "\\b[A-Z][a-z]*(?:\\s+[A-Z][a-z]*)+\\s+(?:Inc|Corp|Co|Ltd|LLC|Company|Association|Organization)\\b")
  private val pOrg2 = compile("\\b[A-Z][A-Z]+\\b")
  private val pLoc = compile("\\b[A-Z][a-z]+(?:,\\s+[A-Z][a-z]+)?\\b")
  private val pDate1 = compile("\\b\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}\\b")
  private val pDate2 = compile(
    "\\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\\s+\\d{1,2}(?:st|nd|rd|th)?,?\\s+\\d{2,4}\\b")
  private val pDate3 = compile(
    "\\b\\d{1,2}(?:st|nd|rd|th)?\\s+(?:of\\s+)?(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*,?\\s+\\d{2,4}\\b")

  /** _format_as_structured_summary (text_processing.py:2162-2242).
    *
    * DETERMINISM NOTE: the reference uses `list(set(x))[:k]`, whose
    * order depends on CPython's randomized string hashing — inherently
    * non-reproducible (SURVEY.md §7.4). We substitute first-occurrence
    * dedup order; goldens exclude this style.
    */
  def formatAsStructuredSummary(summary: String): String = {
    def topK(ms: Vector[String], k: Int): Vector[String] = ms.distinct.take(k)
    val sections = Vector.newBuilder[(String, String)]
    sections += ("SUMMARY" -> summary)
    val people = topK(findall(pName, summary), 3)
    val orgs = topK(findall(pOrg1, summary) ++ findall(pOrg2, summary), 3)
    val locs = topK(findall(pLoc, summary), 3)
    val dates = topK(findall(pDate1, summary) ++ findall(pDate2, summary) ++ findall(pDate3, summary), 2)
    if (people.nonEmpty) sections += ("PEOPLE" -> people.mkString(", "))
    if (orgs.nonEmpty) sections += ("ORGANIZATIONS" -> orgs.mkString(", "))
    if (locs.nonEmpty) sections += ("LOCATIONS" -> locs.mkString(", "))
    if (dates.nonEmpty) sections += ("DATES" -> dates.mkString(", "))
    strip(sections.result().flatMap { case (k, v) => Vector(s"$k:", v, "") }.mkString("\n"))
  }

  // --- extract_key_insights regex path (text_processing.py:2316-2347) ----

  // Each CI pattern behind its literal stems (Py.Gated), tested on the
  // sentence's CI fold; no stem spans a \s or . of its pattern.
  private val insightPatterns = Vector(
    ("(?:key|main|important|significant|critical).{0,20}(?:point|fact|finding|conclusion)",
      Seq("key", "main", "important", "significant", "critical")),
    ("(?:in\\s+summary|to\\s+summarize|in\\s+conclusion|concluding|therefore)",
      Seq("summar", "conclu", "therefore")),
    ("(?:must|should|need to|have to)", Seq("must", "should", "need", "have")),
    ("increase|decrease|improve|reduce|enhance|cause",
      Seq("increase", "decrease", "improve", "reduce", "enhance", "cause"))
  ).map { case (p, stems) => Gated(compile(p, I), stems) }

  /** Every gated pattern of this object, for PropertySpec's soundness check. */
  private[graft] def gates: Seq[Gated] = insightPatterns

  def extractKeyInsights(text: String): Vector[String] = {
    val sentences = splitSentences(text)
    val insights = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = sentences.iterator
    var done = false
    while (it.hasNext && !done) {
      val sentence = it.next()
      val folded = Py.foldForCi(sentence)
      if (insightPatterns.exists(_.search(sentence, folded).isDefined))
        insights += sentence
      if (insights.length >= 5) done = true
    }
    if (insights.length < 2 && sentences.length > 2) {
      if (!insights.contains(sentences(0))) insights += sentences(0)
      val last = sentences(sentences.length - 1)
      if (!insights.contains(last) && last != sentences(0)) insights += last
    }
    insights.take(5).toVector
  }
}
