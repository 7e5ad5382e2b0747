package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Extractor
import graft.lib.Py
import graft.model.{ExtractionResult, Turn}

/** One golden turn's key-independent expected fields. */
final case class Golden(
    status: String, formatted: String, text: String, lang: String, structure: String,
    summary: String, insights: Seq[String], structuredKind: String,
    structured: Map[String, String], markdown: String)

/** Output checks. Each returns failure messages; empty means correct. */
object Checks {

  private def keyDigest(ds: org.apache.spark.sql.DataFrame) =
    ds.agg(count(lit(1)), countDistinct(col("conv_id"), col("turn_idx")),
      sum(xxhash64(col("conv_id"), col("turn_idx")).cast(DecimalType(38, 0)))).head()

  /** Every input key committed exactly once; lineage row counts and
    * `metrics.n_turns` both sum to the input. */
  def committedOnce(spark: SparkSession, out: String, input: Dataset[Turn], n: Long): Seq[String] = {
    val got = keyDigest(spark.read.parquet(s"$out/results"))
    val want = keyDigest(input.toDF())
    val lineageRows = spark.read.parquet(s"$out/lineage").agg(sum("n_rows")).head().getLong(0)
    val metricTurns = spark.read.parquet(s"$out/metrics").agg(sum("n_turns")).head().getLong(0)
    Seq(
      (got.getLong(0) == n, s"results rows ${got.getLong(0)} != input $n"),
      (got.getLong(1) == n, s"distinct committed keys ${got.getLong(1)} != input $n"),
      (got.get(2) == want.get(2), "committed key set differs from the input key set"),
      (lineageRows == n, s"lineage n_rows sums to $lineageRows, not $n"),
      (metricTurns == n, s"metrics n_turns sums to $metricTurns, not $n")
    ).collect { case (false, msg) => msg }
  }

  /** A seeded sample of committed rows equals the same turns re-extracted
    * outside Spark, in the benchmark's main thread. */
  def localSample(spark: SparkSession, out: String, turns: Vector[Turn], seed: Long, k: Int): Seq[String] = {
    import spark.implicits._
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    val picked = Vector.fill(k)(turns(rng.nextInt(turns.length))).distinctBy(t => (t.conv_id, t.turn_idx))
    val byKey = picked.map(t => (t.conv_id, t.turn_idx) -> t).toMap
    val rows = spark.read.parquet(s"$out/results").as[ExtractionResult]
      .filter(col("conv_id").isin(picked.map(_.conv_id): _*))
      .collect()
      .filter(r => byKey.contains((r.conv_id, r.turn_idx)))
    val missing = picked.length - rows.length
    val diff = rows.filterNot(r => r == Extractor.extractSafe(byKey((r.conv_id, r.turn_idx))))
    (if (missing != 0) Seq(s"$missing sampled keys not committed") else Nil) ++
      diff.take(3).map(r => s"${r.conv_id}/${r.turn_idx}: committed row differs from its local re-extraction")
  }

  def loadGoldens(path: String): Map[(String, Int), Golden] =
    Inputs.readJsonl(path).map { n =>
      val gi = n.get("insights")
      val insights =
        if (gi == null || gi.isNull) null else (0 until gi.size()).map(gi.get(_).asText()).toVector
      val gs = n.get("structured")
      val structured =
        if (gs == null || gs.isNull) null
        else {
          val b = Map.newBuilder[String, String]
          gs.properties().forEach(e => b += (e.getKey -> e.getValue.asText()))
          b.result()
        }
      (n.get("conv_id").asText(), n.get("turn_idx").asInt()) -> Golden(
        Inputs.optText(n, "status"), Inputs.optText(n, "formatted"), Inputs.optText(n, "text"),
        Inputs.optText(n, "lang"), Inputs.optText(n, "structure"), Inputs.optText(n, "summary"),
        insights, Inputs.optText(n, "structured_kind"), structured, Inputs.optText(n, "markdown"))
    }.toMap

  /** Table rows as the golden generator encodes them, parsed back into
    * maps (a committed row's map no longer keeps its column order). */
  private def parseRows(enc: String): Seq[Map[String, String]] =
    if (enc == null || enc.isEmpty) Seq.empty
    else enc.split("\u0002", -1).toSeq.map(_.split("\u0001", -1).toSeq.map { kv =>
      val i = kv.indexOf('\u0003')
      kv.substring(0, i) -> kv.substring(i + 1)
    }.toMap)

  /** The golden `structured` encoding of a committed row, without rows. */
  private def flatStructured(r: ExtractionResult): Map[String, String] =
    if (r.structured_kind == null) null
    else {
      var m = if (r.structured_fields == null) Map.empty[String, String] else r.structured_fields
      if (r.structured_kind == "receipt")
        m += "items" -> r.structured_items.map(i => s"${i.name}\u0001${i.quantity}\u0001${i.price}").mkString("\u0002")
      if (r.structured_kind == "table")
        m += "headers" -> r.structured_headers.mkString("\u0001")
      m
    }

  /** Field names on which a committed row differs from its golden. The
    * markdown names the turn by its key, so the golden's original key is
    * swapped for the committed one before comparing. */
  def goldenDiffs(r: ExtractionResult, goldens: Map[(String, Int), Golden]): Seq[String] = {
    val orig = Inputs.originalConv(r.conv_id)
    goldens.get((orig, r.turn_idx)) match {
      case None => Seq("no golden")
      case Some(g) =>
        val expectedMd =
          if (orig == r.conv_id) g.markdown
          else g.markdown.replace(s"${orig}_${r.turn_idx}", s"${r.conv_id}_${r.turn_idx}")
        val gStructured = if (g.structured == null) null else g.structured - "rows"
        val rowsOk = r.structured_kind != "table" ||
          r.structured_rows == parseRows(g.structured.getOrElse("rows", ""))
        Seq(
          ("status", r.status == g.status),
          ("formatted", r.formatted_text == g.formatted),
          ("text", r.text == g.text),
          ("lang", r.detected_language == g.lang),
          ("structure", r.document_structure == g.structure),
          ("summary", r.summary == g.summary),
          ("insights", r.key_insights == g.insights),
          ("structured_kind", r.structured_kind == g.structuredKind),
          ("structured", flatStructured(r) == gStructured && rowsOk),
          ("markdown", r.markdown == expectedMd)
        ).collect { case (f, false) => f }
    }
  }

  /** Every committed row's key-independent fields equal the goldens. */
  def againstGoldens(spark: SparkSession, out: String, goldens: Map[(String, Int), Golden]): Seq[String] = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(goldens)
    val diffs = spark.read.parquet(s"$out/results").as[ExtractionResult].flatMap { r =>
      val d = goldenDiffs(r, bc.value)
      if (d.isEmpty) None else Some(s"${r.conv_id}/${r.turn_idx}: ${d.mkString(",")}")
    }
    val shown = diffs.limit(5).collect()
    val msgs = if (shown.isEmpty) Nil else s"${diffs.count()} rows differ from goldens" +: shown.toSeq
    bc.destroy()
    msgs
  }

  /** Traffic descriptors of a workload's turns, as exact counts. */
  def traffic(turns: IndexedSeq[Turn]): Map[String, Any] = {
    val lens = turns.map(t => if (t.text == null) 0 else Py.len(t.text)).sorted
    Map(
      "turns" -> turns.length,
      "chars_p50" -> Stats.nearestRank(lens, 50),
      "chars_p99" -> Stats.nearestRank(lens, 99),
      "multi_line" -> turns.count(t => t.text != null && t.text.contains('\n')),
      "tool_mix" -> scala.collection.immutable.TreeMap(turns.groupBy(_.tool).view.mapValues(_.length).toSeq: _*),
      "gate_len_gt_10" -> lens.count(_ > 10))
  }

  /** Descriptors only the committed results can give: turns past the
    * insights gate (len > 200 of the formatted text), turns with a
    * non-generic structured kind, and error rows. */
  def resultTraffic(spark: SparkSession, out: String): Map[String, Any] = {
    val r = spark.read.parquet(s"$out/results").agg(
      count(when(col("key_insights").isNotNull, 1)),
      count(when(col("structured_kind").isNotNull && col("structured_kind") =!= "generic", 1)),
      count(when(col("status") === "error", 1))).head()
    Map("gate_insights_len_gt_200" -> r.getLong(0), "structured_non_generic" -> r.getLong(1),
      "error_rows" -> r.getLong(2))
  }
}
