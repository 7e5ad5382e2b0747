package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.Extractor
import graft.lib._
import graft.model.{ExtractionResult, PayloadKind, Span, Turn}

/** Scheduler and shuffle counters of the `spark` layer, gathered by a
  * listener the benchmark attaches to its own session in traced runs. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(spark: SparkSession): Vector[Long] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    Vector(jobs, stages, tasks, runMs, gcMs, shuffleRead, shuffleWrite, spill).map(_.get)
  }
}

object SparkCounters {
  /** Counter deltas between two snapshots, as `spark.*` metrics over
    * `wallS` seconds of `cores` cores. */
  def metrics(a: Vector[Long], b: Vector[Long], wallS: Double, cores: Int): Seq[Metric] = {
    val d = b.zip(a).map { case (x, y) => x - y }
    val Vector(jobs, stages, tasks, runMs, gcMs, sr, sw, spill) = d
    Seq(
      Metric("spark.jobs", jobs.toDouble, "count"),
      Metric("spark.stages", stages.toDouble, "count"),
      Metric("spark.tasks", tasks.toDouble, "count"),
      Metric("spark.task_busy_share", runMs / 1000.0 / (wallS * cores), "share"),
      Metric("spark.gc_share", if (runMs == 0) 0.0 else gcMs.toDouble / runMs, "share"),
      Metric("spark.shuffle_read_bytes", sr.toDouble, "bytes"),
      Metric("spark.shuffle_write_bytes", sw.toDouble, "bytes"),
      Metric("spark.spill_bytes", spill.toDouble, "bytes"))
  }
}

/** Per-turn stage spans: replays `Extractor.extract`'s calls into the
  * `lib` modules, in its order, on the main thread, timing each call.
  * Alternating passes also time `Extractor.extract` itself over the same
  * turns; whatever the replayed calls do not account for is the
  * composition's residual. Before timing, every turn's replayed outputs
  * are compared with `Extractor.extract`'s, so a change to the
  * composition that the replay does not follow fails the run. */
object StageReplay {
  val Stages: Vector[String] = Vector(
    "TextCorrections.post_process", "Formatters.format", "Language.detect",
    "InfoExtract.extract_ordered", "Summarizer.summary", "Formatters.structure",
    "Summarizer.insights", "TextCorrections.clean", "Markdown.render",
    "Classify.payload_kind", "Spans.line_spans")
  private val PostProcess = 0; private val Format = 1; private val Lang = 2
  private val Info = 3; private val Summary = 4; private val Structure = 5
  private val Insights = 6; private val Clean = 7; private val Md = 8
  private val Classify_ = 9; private val SpansIdx = 10

  /** Per-pass totals: nanoseconds and call counts per stage, plus the
    * number of non-generic structured extractions. */
  final class Pass {
    val ns = new Array[Long](Stages.length)
    val calls = new Array[Long](Stages.length)
    var structuredHits = 0L
  }

  /** The outputs of one replayed turn that `Extractor.extract` returns. */
  final case class Replayed(
      status: String, text: String, formatted: String, lang: String, structure: String,
      summary: String, insights: Seq[String], structuredKind: String, markdown: String,
      spans: Seq[Span], scored: String, tokens: Int)

  object Replayed {
    def of(r: ExtractionResult): Replayed =
      Replayed(r.status, r.text, r.formatted_text, r.detected_language, r.document_structure,
        r.summary, r.key_insights, r.structured_kind, r.markdown, r.spans, r.payload_kind_scored, r.n_tokens)
  }

  def replay(turn: Turn, p: Pass): Replayed = {
    var t = System.nanoTime()
    def lap(i: Int): Unit = {
      val now = System.nanoTime()
      p.ns(i) += now - t
      p.calls(i) += 1
      t = now
    }
    val raw = if (turn.text == null) "" else turn.text
    val kind = PayloadKind.fromTool(turn.tool)
    t = System.nanoTime()
    val corrected =
      if (Py.len(raw) > 10) { val c = TextCorrections.postProcessText(raw, kind); lap(PostProcess); c }
      else raw
    t = System.nanoTime()
    val (formatted, structureOfInput) = Formatters.formatTextWithStructure(corrected)
    lap(Format)
    val lang = Language.detectLanguage(formatted)
    lap(Lang)
    val structured =
      if (formatted.nonEmpty) { t = System.nanoTime(); val s = InfoExtract.extractOrdered(formatted, kind); lap(Info); s }
      else None
    if (structured.exists(_.kind != "generic")) p.structuredHits += 1
    val status =
      if (Extractor.Confidence < 30 || Py.len(Py.strip(formatted)) < 5) "poor_quality"
      else if (Extractor.Confidence < 60) "partial_success"
      else "success"
    var summary = ""
    var structure: String = null
    var insights: Seq[String] = null
    if ((status == "success" || status == "partial_success") && formatted.nonEmpty) {
      t = System.nanoTime()
      summary = Summarizer.generateSummary(formatted, Extractor.SummaryLength, Extractor.SummaryStyle)
      lap(Summary)
      structure =
        if (formatted == corrected) structureOfInput
        else { t = System.nanoTime(); val s = Formatters.detectDocumentStructure(formatted); lap(Structure); s }
      if (Py.len(formatted) > 200) {
        t = System.nanoTime()
        insights = Summarizer.extractKeyInsights(formatted)
        lap(Insights)
      }
    }
    t = System.nanoTime()
    val textClean = TextCorrections.cleanResponseText(formatted)
    val summaryClean = TextCorrections.cleanResponseText(summary)
    val insightsClean = if (insights == null) null else insights.map(TextCorrections.cleanResponseText)
    lap(Clean)
    val tokens = Py.pySplitWs(textClean).length
    t = System.nanoTime()
    val markdown = Markdown.render(
      filename = s"${turn.conv_id}_${turn.turn_idx}", ts = turn.ts, status = status,
      formattedText = formatted, confidence = Extractor.Confidence, detectedLanguage = lang,
      payloadKind = kind, summaryRaw = summary, insightsRaw = insights,
      documentStructure = structure, structured = structured)
    lap(Md)
    val scored = Classify.classifyPayloadKind(raw)._1
    lap(Classify_)
    Classify.processingStrategy(kind)
    t = System.nanoTime()
    val spans = Spans.lineSpans(formatted)
    lap(SpansIdx)
    Replayed(status, textClean, formatted, lang, structure, summaryClean, insightsClean,
      structured.map(_.kind).orNull, markdown, spans, scored, tokens)
  }

  /** Turns whose replayed outputs differ from `Extractor.extract`'s. */
  def mismatches(turns: IndexedSeq[Turn]): Seq[String] =
    turns.iterator.flatMap { t =>
      val want = Replayed.of(Extractor.extract(t))
      val got = replay(t, new Pass)
      if (got == want) None
      else {
        val fields = got.productElementNames.zip(got.productIterator.zip(want.productIterator))
          .collect { case (f, (g, w)) if g != w => f }.mkString(", ")
        Some(s"${t.conv_id}/${t.turn_idx}: stage replay differs from Extractor.extract in $fields")
      }
    }.toSeq

  /** Alternates a timed `Extractor.extract` pass and a replay pass over
    * `turns` until `budgetS` is spent (at least `minPasses` each), and
    * reports medians per turn. Shares are of the median extract time, so
    * the stage shares and the residual share sum to 1. */
  def measure(turns: IndexedSeq[Turn], budgetS: Double, minPasses: Int = 3): Seq[Metric] = {
    val n = turns.length
    val extractNs = Vector.newBuilder[Long]
    val passes = Vector.newBuilder[Pass]
    val end = System.nanoTime() + (budgetS * 1e9).toLong
    var k = 0
    while (k < minPasses || System.nanoTime() < end) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { Extractor.extract(turns(i)); i += 1 }
      extractNs += System.nanoTime() - t0
      val p = new Pass
      i = 0
      while (i < n) { replay(turns(i), p); i += 1 }
      passes += p
      k += 1
    }
    val ps = passes.result()
    val last = ps.last
    metrics(n, Stats.median(extractNs.result().map(_.toDouble)),
      Stages.indices.map(s => Stats.median(ps.map(_.ns(s).toDouble))), last.calls, last.structuredHits)
  }

  private def metrics(n: Int, extractMed: Double, stageMed: Seq[Double], calls: Array[Long],
                      hits: Long): Seq[Metric] = {
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val perStage = Stages.indices.flatMap { s =>
      Seq(Metric(s"${Stages(s)}.us_per_turn", ratio(stageMed(s) / 1000.0, n), "us"),
        Metric(s"${Stages(s)}.share", ratio(stageMed(s), extractMed), "share"))
    }
    perStage ++ Seq(
      Metric("TextCorrections.post_process.calls", calls(PostProcess).toDouble, "count"),
      Metric("Summarizer.insights.calls", calls(Insights).toDouble, "count"),
      Metric("InfoExtract.extract_ordered.calls", calls(Info).toDouble, "count"),
      Metric("InfoExtract.extract_ordered.structured_hits", hits.toDouble, "count"),
      Metric("InfoExtract.extract_ordered.hit_share", ratio(hits, calls(Info)), "share"),
      Metric("Extractor.extract.us_per_turn", ratio(extractMed / 1000.0, n), "us"),
      Metric("Extractor.residual_share", if (extractMed == 0) 0.0 else 1.0 - stageMed.sum / extractMed, "share"))
  }

  /** Every metric `measure` emits, zero-valued, for workloads whose run
    * does no per-turn text work. */
  def zeros: Seq[Metric] = metrics(0, 0.0, Stages.map(_ => 0.0), new Array[Long](Stages.length), 0)
}
