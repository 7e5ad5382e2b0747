package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.Extractor
import graft.model.{ExtractionResult, Turn}
import graft.ops.TrainingOps
import TrainingOps.Staged

/** Structured Streaming variant of the extraction pipeline
  * (SURVEY.md §2.10).
  *
  * The reference's async task queue + polling (app/api/routes.py:
  * 1034-1148) maps to a continuous `readStream → extract → writeStream`
  * with per-batch commits; its rolling processing stats with EMA
  * success rate (lib/smartglass_ocr.py:1022-1075, `0.7*old + 0.3*new`)
  * map to a `flatMapGroupsWithState` keyed by payload kind; its
  * stale-task sweep (routes.py:1198-1217) maps to state TTL via
  * ProcessingTimeTimeout.
  *
  * The stream-static twins (decontamination, anomaly fences, calibrated
  * scores, ingest curation) persist their static side once and return
  * it with the stream plan as a [[Staged]]: start `plan.writeStream`,
  * and call `release()` after `q.stop()` (a streaming plan cannot be
  * `materialize`d).
  */
object StreamingPipeline {

  /** Same per-turn extraction, streaming-safe (stateless map). */
  def streamExtract(turns: Dataset[Turn]): Dataset[ExtractionResult] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions(_.map(Extractor.extract))
  }

  /** Streaming exact dedup — the continuous-ingest counterpart of the
    * batch q09 operator: drop every turn whose canonical text
    * fingerprint was already seen, with a watermark bounding how long a
    * fingerprint stays in state (at 100 TB/day the state would
    * otherwise grow without bound; within the watermark the dedup is
    * exact, beyond it a duplicate older than the lateness bound can
    * re-enter — the standard streaming-dedup contract). Fingerprint =
    * md5 of the same normalization the batch dedup family uses. */
  def streamDedup(turns: Dataset[Turn], watermark: String = "10 minutes"): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns
      .withColumn("fp", md5(TrainingOps.normText(col("text"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp")
      .as[Turn]
  }

  /** Streaming decontamination — x19 at ingest time: a stream of
    * (doc_id, text) documents joins its word-13-gram fingerprints
    * against a STATIC benchmark gram set (stream-static inner joins
    * are stateless in Structured Streaming — each micro-batch probes
    * the static side, no stream state), then counts hits per doc in
    * Update mode. Because a document's grams arrive in ONE input row,
    * each doc's aggregate closes within its own micro-batch — the
    * update-mode state never needs revision, and the final value per
    * doc_id equals the batch [[graft.ops.TrainingOps.decontaminate]]
    * row exactly (spec-pinned). At unbounded-stream scale, bound the
    * aggregation state with a watermark on an event-time column (the
    * streamDedup contract); the gram set side scales by swapping the
    * broadcast for the x39 Bloom-literal prefilter, identical plan
    * options to batch. The static side of a stream-static join
    * re-evaluates per trigger, so the gram set is persisted once for
    * the life of the query. */
  def streamDecontaminate(docs: DataFrame, benchmark: DataFrame,
                          n: Int = 13): Staged =
    Staged.persisted(TrainingOps.benchmarkGrams(benchmark, n))
      .map(TrainingOps.decontaminateCore(docs, _, n))

  /** Streaming Tukey-fence anomaly gate — the live twin of the batch
    * x81 query: fences are computed ONCE over a HISTORICAL events batch
    * (exact per-type percentiles can't fold incrementally; a production
    * job refreshes them on a cadence and restarts the stream, the
    * standard reference-data pattern) and live events are flagged
    * against them through the SAME
    * [[graft.ops.TrainingOps.anomalyFlagsCore]] the batch query runs —
    * a stateless stream-static broadcast join, so flags are identical
    * to batch regardless of micro-batch boundaries (spec-pinned). The
    * fence table is persisted so triggers don't recompute the
    * historical percentiles (the streamDecontaminate convention). */
  def streamEventAnomalies(events: DataFrame, historical: DataFrame): Staged =
    Staged.persisted(TrainingOps.eventFences(historical))
      .map(TrainingOps.anomalyFlagsCore(events, _))

  /** Streaming ingest-curation gate — the live twin of the batch x110
    * query: the reference corpus's fingerprint set and band buckets are
    * built ONCE ([[graft.ops.TrainingOps.ingestRefTables]], persisted
    * for the life of the query — the streamDecontaminate convention),
    * and every arriving document runs the SAME stateless
    * [[graft.ops.TrainingOps.ingestCurateCore]] plan the batch query
    * runs: per-row band keys, two stream-static bucket joins, an
    * `exists` jaccard verify, and the Gopher pass — one decided APPEND
    * row per doc, no state store, so the verdict stream is identical
    * to batch across any micro-batch split (spec-pinned). */
  def streamIngestCurate(docs: DataFrame, ref: DataFrame,
                         threshold: Double = 0.8): Staged = {
    // uncapped ref tables (capN default): the per-row exists path must
    // see every bucket member — the batch gate's hot-key pair-join
    // fallback needs a per-doc aggregation, which an append-mode stream
    // cannot run; bucket growth is bounded by the ref-refresh cadence
    val r = TrainingOps.ingestRefTables(ref)
    Staged(r.fp, r.release).map { fp =>
      // materialize both static caches eagerly, then drop the shingle
      // table — it only feeds the bucket build and would otherwise stay
      // persisted for the life of the query
      r.buckets.count(); fp.count()
      r.base.unpersist()
      TrainingOps.ingestCurateCore(docs, fp, r.buckets, threshold)
    }
  }

  /** Per-source winsorized z-scores for LIVE documents against a
    * calibration table computed over a HISTORICAL batch — the x96
    * operator's streaming twin, same shape as [[streamEventAnomalies]]:
    * exact percentile fences don't fold incrementally, so production
    * refreshes the calibration on a cadence, and live docs score
    * through the SAME [[graft.ops.TrainingOps.calibrateCore]] the
    * batch query runs (a stateless stream-static broadcast join —
    * identical to batch across any micro-batch split, spec-pinned).
    * The calibration table is persisted so triggers don't recompute
    * the historical percentiles. */
  def streamCalibratedScores(docs: DataFrame, historical: DataFrame): Staged =
    Staged.persisted(TrainingOps.calibrationStats(historical))
      .map(TrainingOps.calibrateCore(TrainingOps.scoreProjection(docs), _))

  /** One emitted near-duplicate match (canonical id order). */
  final case class NearDupPair(id_a: Long, id_b: Long, hamming: Int)

  /** Streaming NEAR-dup detection — the continuous counterpart of the
    * batch x06 simhash pipeline, for dedup-at-ingest: each document's
    * 60-bit simhash (the native codegen'd expression) splits into
    * 4×15-bit band keys; keyed state per (band, value) bucket holds the
    * (doc_id, simhash) fingerprints seen there, and an arriving
    * document emits a pair for every stored fingerprint within
    * `maxHamming` — the same band-equality blocking as the batch
    * equi-join. (Pigeonhole makes that blocking COMPLETE only for
    * k < nBands — k <= 3 here; at the default maxHamming=12 the 12
    * differing bits can spread 3 per band, so band blocking is a
    * recall heuristic, not a guarantee.) Because stream and batch use
    * IDENTICAL banding ([[TrainingOps.simhashBands]]), the DISTINCT
    * emitted pair set still equals the batch operator's output
    * regardless of arrival order or batch boundaries (spec-pinned). A pair agreeing
    * on multiple bands is emitted once per agreeing band — downstream
    * consumers dedup with a dropDuplicates, exactly like the batch
    * candidate set. State is per-bucket and grows with the corpus; at
    * unbounded-stream scale bound it with `stateTtl` (the stale-sweep
    * contract: a duplicate older than the TTL can re-enter, same
    * trade-off as [[streamDedup]]'s watermark). */
  def streamNearDupPairs(docs: Dataset[(Long, String)], maxHamming: Int = 12,
                         stateTtl: Option[String] = None): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    val banded = TrainingOps.simhashBands(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Int, Long)]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    banded.groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(updateNearDup(maxHamming, stateTtl))
  }

  private def updateNearDup(maxHamming: Int, stateTtl: Option[String])(
      key: (Int, Long),
      rows: Iterator[(Long, Long, Int, Long)],
      state: GroupState[List[(Long, Long)]]): Iterator[NearDupPair] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    var seen = state.getOption.getOrElse(Nil)
    val out = scala.collection.mutable.ListBuffer.empty[NearDupPair]
    for ((id, sh, _, _) <- rows) {
      for ((pid, psh) <- seen if pid != id) {
        val h = java.lang.Long.bitCount(sh ^ psh)
        if (h <= maxHamming)
          out += NearDupPair(math.min(id, pid), math.max(id, pid), h)
      }
      seen = (id, sh) :: seen
    }
    state.update(seen)
    stateTtl.foreach(state.setTimeoutDuration)
    out.iterator
  }

  /** Streaming gap-sessionization — the continuous counterpart of the
    * batch q19 operator, on Spark's native `session_window` (state
    * merges adjacent windows per key; no custom state code needed).
    * Semantics pinned to the batch op: q19 computes gaps on
    * `unix_timestamp` (whole seconds) and CONTINUES a session at
    * gap == 1800 s exactly (`gap > 1800` starts a new one). Spark's
    * session merge is boundary-INCLUSIVE (an event landing exactly on
    * the open session's end extends it), so a 1800 s gap on the
    * second-truncated timestamp merges iff gap_sec <= 1800 — the same
    * rule (the spec pins the == 1800 boundary).
    * With a watermark, state for closed sessions is evicted (append
    * mode emits only finalized sessions); pass None for complete-mode
    * use. One row per (user, session) with its event count. */
  def sessionCounts(events: DataFrame,
                    watermark: Option[String] = Some("1 hour")): DataFrame = {
    val secs = to_timestamp(from_unixtime(unix_timestamp(col("ts"))))
    val base = events.withColumn("ts_sec", secs)
    val marked = watermark.fold(base)(base.withWatermark("ts_sec", _))
    marked
      .groupBy(session_window(col("ts_sec"), "1800 seconds"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
  }

  /** Rolling per-kind stats with EMA success rate — the reference's
    * _update_processing_stats re-expressed as keyed streaming state.
    * The reference smooths the CUMULATIVE success rate, not the per-item
    * 0/1 indicator: rate = success_count/count after each item, then
    * ema' = 0.7*ema + 0.3*rate, initialized to the first rate on first
    * sighting (smartglass_ocr.py:1068-1075). */
  final case class KindStats(
      payload_kind: String, n_turns: Long, n_success: Long, ema_success: Double)

  def emaStats(
      results: Dataset[ExtractionResult],
      stateTtl: Option[String] = None): Dataset[KindStats] = {
    import results.sparkSession.implicits._
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    results
      .select($"payload_kind", ($"status" === "success").as("ok"))
      .as[(String, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, timeout)(updateKindStats(stateTtl))
  }

  /** Streaming form of the last-10 rolling metric (reference keeps
    * processing_times[engine][-10:], smartglass_ocr.py:1035-1040): a
    * ring buffer of the last 10 per-turn costs per payload kind, O(10)
    * state per key regardless of stream length. Batch form:
    * Pipeline.rollingKindStats. */
  final case class RollingStats(payload_kind: String, n_turns: Long, rolling_avg10: Double)

  def rollingStats(results: Dataset[ExtractionResult]): Dataset[RollingStats] = {
    import results.sparkSession.implicits._
    results
      .select($"payload_kind", $"n_chars")
      .as[(String, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(updateRolling)
  }

  private def updateRolling(
      kind: String,
      rows: Iterator[(String, Int)],
      state: GroupState[(Long, Seq[Int])]): Iterator[RollingStats] = {
    var (n, last10) = state.getOption.getOrElse((0L, Seq.empty[Int]))
    rows.foreach { case (_, cost) =>
      n += 1
      last10 = (last10 :+ cost).takeRight(10) // [-10:] window, smartglass_ocr.py:1040
    }
    state.update((n, last10))
    Iterator.single(RollingStats(kind, n, last10.sum.toDouble / last10.length))
  }

  private def updateKindStats(stateTtl: Option[String])(
      kind: String,
      rows: Iterator[(String, Boolean)],
      state: GroupState[KindStats]): Iterator[KindStats] = {
    if (state.hasTimedOut) { // stale-state sweep (routes.py:1198-1217 analog)
      val last = state.get
      state.remove()
      return Iterator.single(last)
    }
    var s = state.getOption.getOrElse(KindStats(kind, 0L, 0L, 0.0))
    rows.foreach { case (_, ok) =>
      val n = s.n_turns + 1
      val nSuccess = s.n_success + (if (ok) 1 else 0)
      val rate = nSuccess.toDouble / n // cumulative, smartglass_ocr.py:1068
      val ema = if (s.n_turns == 0) rate else 0.7 * s.ema_success + 0.3 * rate
      s = KindStats(kind, n, nSuccess, ema)
    }
    state.update(s)
    stateTtl.foreach(state.setTimeoutDuration) // stale-state TTL (opt-in)
    Iterator.single(s)
  }
}
