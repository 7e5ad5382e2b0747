package graft.model

import java.sql.Timestamp

/** One transcript turn — the input row shape fixed by BASELINE.json
  * `input_hint`. The `tool` column is the dispatch kind, the transcript
  * analog of the reference's ImageType (reference: lib/model.py:12-27).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Payload kinds — mirrors the reference ImageType values that the text
  * pipeline dispatches on (reference: lib/model.py:12-27;
  * dispatch at lib/text_processing.py:131-144 and
  * lib/information_extraction.py:42-53). Kept as strings in columns.
  */
object PayloadKind {
  val Document = "document"
  val Receipt = "receipt"
  val IdCard = "id_card"
  val Form = "form"
  val Table = "table"
  val Signage = "signage"
  val BookPage = "book_page"
  val Scientific = "scientific"
  val Mixed = "mixed"

  /** tool column → ImageType-value string steering dispatch. */
  def fromTool(tool: String): String = tool match {
    case "receipt" => Receipt
    case "id_card" => IdCard
    case "form" => Form
    case "table" => Table
    case "signage" => Signage
    case "book_page" => BookPage
    case "scientific" => Scientific
    case null => Mixed
    case _ => Document // plain | document | html | pdf | scientific | multi_column | ...
  }
}

/** Document structures (reference: lib/model.py:66-77). */
object DocStructure {
  val PlainText = "plain_text"
  val Paragraphs = "paragraphs"
  val HeadersAndContent = "headers_and_content"
  val BulletPoints = "bullet_points"
  val Table = "table"
  val Form = "form"
  val MultiColumn = "multi_column"
  val Scientific = "scientific"
  val Mixed = "mixed"
}

/** A receipt line item (reference: lib/information_extraction.py:236-240;
  * money stays a string — the reference never parses it). */
final case class ReceiptItem(name: String, quantity: String, price: String)

/** Full per-turn extraction output — the engine's output schema
  * (reference results dict assembled at lib/smartglass_ocr.py:628-653,
  * enriched at :1212-1246, final projection app/api/routes.py:976-981).
  */
final case class ExtractionResult(
    conv_id: String,
    turn_idx: Int,
    role: String,
    tool: String,
    ts: Timestamp,
    payload_kind: String, // tool-driven dispatch kind
    payload_kind_scored: String, // feature-scored argmax classification [STR]
    processing_strategy: String, // ImageType→strategy map (SURVEY §2.3)
    status: String,
    text: String, // clean_response_text(formatted_text)
    formatted_text: String, // format_text output (the "original_text")
    confidence: Double,
    detected_language: String,
    document_structure: String, // null when no summary block was produced
    summary: String,
    key_insights: Seq[String], // null when gated off
    structured_kind: String,
    structured_fields: Map[String, String],
    structured_items: Seq[ReceiptItem],
    structured_headers: Seq[String],
    structured_rows: Seq[Map[String, String]],
    confidence_level: String,
    markdown: String,
    spans: Seq[Span], // TextRegion analog over formatted_text (SURVEY §1.1)
    n_chars: Int,
    n_tokens: Int)

/** TextRegion analog (reference lib/model.py:79-87): a line-level region
  * of the formatted text as [start, end) char offsets plus a kind
  * classification (bullet | table_row | header | form_field | text). */
final case class Span(start: Int, end: Int, kind: String)

/** Per-partition audit row written by the sink (SURVEY.md §7.1.7). */
final case class Lineage(
    partition_id: Int, min_key: String, max_key: String, n_rows: Long, t_ms: Long)
