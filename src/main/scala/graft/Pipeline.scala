package graft

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{ExtractionResult, Lineage, Turn}

/** Dataset-level extraction pipeline (SURVEY.md §3.1 Spark re-expression).
  *
  * One job, one lineage: scan → salted repartition (hot-conversation skew
  * control, north_rule) → mapPartitions extract → coalesce to byte-sized
  * slices → sortWithinPartitions → partitioned parquet sink. The results
  * commit first; then the per-partition lineage rows, `metrics` and
  * `metrics_rolling` are written at the same time, the two metrics tables
  * over a read-back of the committed results with their known schema.
  * Resume = left-anti join against committed keys (idempotent writes
  * keyed by (conv_id, turn_idx)).
  *
  * Scale notes (100 TB / 10^12 turns):
  *  - extraction is embarrassingly parallel per turn: no shuffle is
  *    strictly required; the single salted repartition exists to break
  *    up hot conversations. The sink sizes its own write tasks: it merges
  *    partitions that average under 4 MiB (`sinkSlices`), since each
  *    write task pays a fixed set-up whatever its bytes.
  *  - column pruning matters: metrics jobs must not read `text` — all
  *    stats queries select only narrow columns before any wide stage.
  *  - the mapPartitions boundary breaks whole-stage codegen by design;
  *    everything before (scan+filter) and after (project+sort+write)
  *    stays columnar/codegen.
  */
object Pipeline {

  /** Salt fan-out for hot conversations: partition key is
    * (conv_id, hash(turn_idx) % Salt) so a conversation with millions of
    * turns spreads over Salt partitions instead of one. */
  val Salt = 16

  def turnsSchemaDf(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }

  /** Derive a transcript table from the driver-generated `documents`
    * table (TESTDATA.md): 10 turns per conversation, tool cycling over
    * the dispatch kinds so every reference branch gets traffic. */
  def turnsFromDocuments(spark: SparkSession, sfDir: String): Dataset[Turn] = {
    import spark.implicits._
    val tools = Array(
      "plain", "document", "receipt", "id_card", "form", "table",
      "signage", "scientific", "multi_column", "html", "pdf", "book_page")
    val toolCol = element_at(
      typedLit(tools.toSeq), (pmod(col("doc_id"), lit(tools.length)) + 1).cast("int"))
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(
        concat(lit("conv-"), lpad((col("doc_id") / 10).cast("long").cast("string"), 8, "0"))
          .as("conv_id"),
        pmod(col("doc_id"), lit(10)).cast("int").as("turn_idx"),
        element_at(typedLit(Seq("user", "assistant", "tool")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("role"),
        col("text"),
        toolCol.as("tool"),
        timestamp_millis(lit(1700000000000L) + col("doc_id") * 1000).as("ts"))
      .as[Turn]
  }

  /** The core distributed stage. `numPartitions <= 0` keeps the incoming
    * partitioning (no shuffle — extraction itself never needs one).
    * `safe = true` (the job-main path) wraps each turn in the reference's
    * per-request error handling (status="error" rows instead of task
    * failure — Extractor.extractSafe); tests and parity checks use the
    * strict path so an unexpected throw is loud, not masked. */
  def extractTurns(turns: Dataset[Turn], numPartitions: Int = -1,
                   safe: Boolean = false): Dataset[ExtractionResult] = {
    import turns.sparkSession.implicits._
    val repart =
      if (numPartitions > 0)
        turns.repartition(numPartitions, col("conv_id"), pmod(hash(col("turn_idx")), lit(Salt)))
      else turns
    val f: Turn => ExtractionResult =
      if (safe) Extractor.extractSafe else Extractor.extract
    repart.mapPartitions(_.map(f))
  }

  /** Sink with per-partition lineage (SURVEY.md §7.1.7). ONE pass:
    * lineage stats (partition id, key range, row count, wall ms) are
    * gathered by a task-completion listener into an accumulator while
    * the same iterators stream into the parquet writer — the expensive
    * extraction runs exactly once. (Speculative task retries may add
    * duplicate lineage rows; lineage is a diagnostic table, results
    * stay exactly-once via the file committer.) Once the results
    * commit, the lineage, `metrics` and `metrics_rolling` writes run at
    * the same time (`concurrently`); the call returns when all three
    * have finished. */
  def writeResults(results: Dataset[ExtractionResult], outDir: String): Unit =
    writeWithLineage(results, outDir, overwrite = true)

  /** Resume-append variant: adds only the new results/lineage files
    * (idempotent keyed by (conv_id, turn_idx) — the resume anti-join
    * guarantees no key is written twice); metrics are recomputed over
    * the full committed table. */
  def appendResults(results: Dataset[ExtractionResult], outDir: String): Unit = {
    purgeStaleAttempts(results.sparkSession, outDir)
    writeWithLineage(results, outDir, overwrite = false)
  }

  /** A SIGKILLed job leaves its task outputs under results/_temporary;
    * the v1 FileOutputCommitter of the NEXT append job sweeps everything
    * under _temporary/<appAttempt> into the commit, so a dead attempt's
    * completed tasks would resurface as duplicate (conv_id, turn_idx)
    * keys. The resume anti-join can't see them (hidden _ paths), so the
    * stale attempt dirs must be purged before appending. Observed live
    * in a 1M-turn SIGKILL drill (an orphan part file swept into the
    * resumed commit). */
  private def purgeStaleAttempts(spark: SparkSession, outDir: String): Unit =
    for (sub <- Seq("results", "lineage")) {
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$sub/_temporary")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }

  private def writeWithLineage(
      results: Dataset[ExtractionResult], outDir: String, overwrite: Boolean): Unit = {
    val spark = results.sparkSession
    import spark.implicits._
    val mode = if (overwrite) SaveMode.Overwrite else SaveMode.Append
    val acc = spark.sparkContext.collectionAccumulator[Lineage]("graft.lineage")
    val sorted = results.coalesce(sinkSlices(results)).sortWithinPartitions("conv_id", "turn_idx")
    val tracked = sorted.mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      val pid = tc.partitionId()
      val t0 = System.nanoTime()
      var n = 0L
      var minK: String = null
      var maxK: String = null
      tc.addTaskCompletionListener[Unit] { _ =>
        acc.add(Lineage(pid, minK, maxK, n, (System.nanoTime() - t0) / 1000000))
      }
      it.map { r =>
        val k = f"${r.conv_id}%s#${r.turn_idx}%09d"
        if (minK == null || k < minK) minK = k
        if (maxK == null || k > maxK) maxK = k
        n += 1
        r
      }
    }
    tracked.write.mode(mode).parquet(s"$outDir/results")
    val lineageRows: Seq[Lineage] =
      scala.jdk.CollectionConverters.ListHasAsScala(acc.value).asScala.toSeq
    // the committed table has the results' own schema: reading it with
    // that schema runs no schema-inference job
    val committed =
      spark.read.schema(results.schema).parquet(s"$outDir/results").as[ExtractionResult]
    concurrently(spark, Seq(
      () => spark.createDataset(lineageRows).write.mode(mode).parquet(s"$outDir/lineage"),
      () => metrics(committed).write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics"),
      // ship the reference's full stats surface in the job artifact, not
      // only in specs (smartglass_ocr.py:1022-1075 keeps the last-10
      // rolling window per type alongside the cumulative aggregates)
      () => rollingKindStats(committed)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics_rolling")))
  }

  /** Prefix of the names of `concurrently`'s pool threads. */
  private[graft] val TailThreads = "graft-sink-tail-"

  /** Runs `writes` at the same time, one pool thread each, and returns
    * once every one has finished. Each of them moves a few KB, so what
    * it costs is a job's and a commit's fixed overhead; in series those
    * add up, at once the slowest one counts. If any throws, the first
    * failing one in `writes` order is rethrown, after all have finished,
    * with the others' throwables added as suppressed.
    *
    * `SQLExecution.withThreadLocalCaptured` (what Spark's own broadcast
    * and subquery code uses) hands each write the caller's local
    * properties (job group, description, scheduler pool) and active
    * session. The pool's threads inherit no thread locals, so that is
    * all a write sees of the caller. The pool lives for one call: its
    * threads are joined before the call returns. */
  private[graft] def concurrently(spark: SparkSession, writes: Seq[() => Unit]): Unit = {
    import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors}
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(writes.size, (r: Runnable) => {
      val t = new Thread(null, r, s"$TailThreads${threads.size}", 0, false)
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val running = writes.map(w =>
        org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(session, pool)(w()))
      val failures = running.flatMap(f => scala.util.Try(f.get()).failed.toOption.map {
        case e: ExecutionException => e.getCause
        case e => e
      })
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }

  /** Write tasks for the results sink: one per
    * `spark.sql.files.openCostInBytes` (Spark's own per-file cost, 4 MiB)
    * of the plan's estimated size, rounded up to whole waves of
    * `defaultParallelism`. A write task pays a fixed set-up (Hadoop
    * Configuration copies, the parquet record writer's config parse) of
    * about 60 ms on a 4-core host, so many small part files cost that
    * set-up, not their bytes. `coalesce` never raises the count: input
    * partitions that already average >= 4 MiB pass through. Read from
    * the optimized plan's statistics, so sizing runs no job; an unknown
    * size reads as Long.MaxValue and caps at Int.MaxValue, a no-op.
    * Through `mapPartitions` the estimate is the input's size, and for a
    * parquet input that is its compressed size on disk: a highly
    * compressible input merges into fewer, larger slices than its
    * results' bytes would ask for. */
  private def sinkSlices(results: Dataset[_]): Int = {
    val spark = results.sparkSession
    val bytes = results.queryExecution.optimizedPlan.stats.sizeInBytes
    val open = BigInt(spark.sessionState.conf.filesOpenCostInBytes).max(1)
    val wave = BigInt(spark.sparkContext.defaultParallelism)
    val need = ((bytes + open - 1) / open).max(1)
    (((need + wave - 1) / wave) * wave).min(Int.MaxValue).toInt
  }

  /** Corpus-level metrics [STR] — the reference's processing-stats
    * aggregation (smartglass_ocr.py:1022-1075) as a narrow groupBy;
    * never touches the fat text column. */
  def metrics(results: Dataset[ExtractionResult]): DataFrame =
    results
      .select("payload_kind", "status", "detected_language", "n_chars", "n_tokens")
      .groupBy("payload_kind", "status", "detected_language")
      .agg(
        count(lit(1)).as("n_turns"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_chars"), 2).as("avg_chars"))

  /** Last-10 rolling per-kind mean — the reference keeps only the last
    * 10 processing times per image type (smartglass_ocr.py:1035-1040,
    * "processing_times[engine][-10:]"); here the rolling metric is
    * avg over rowsBetween(-9, 0) per payload_kind. Wall time per turn is
    * nondeterministic in a pure engine, so the smoothed quantity is the
    * deterministic per-turn cost proxy n_chars (the byte budget the
    * decode/extract stage actually pays for). */
  def rollingKindStats(results: Dataset[ExtractionResult]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("payload_kind")
      .orderBy("ts", "conv_id", "turn_idx")
      .rowsBetween(-9, 0)
    results
      .select("payload_kind", "conv_id", "turn_idx", "ts", "n_chars")
      .withColumn("rolling_avg_chars10", round(avg("n_chars").over(w), 2))
  }

  /** Resume from a committed snapshot: anti-join input keys against the
    * already-written results (north_rule checkpoint semantics). */
  def resume(spark: SparkSession, turns: Dataset[Turn], outDir: String): Dataset[Turn] = {
    import spark.implicits._
    // Only a genuinely-missing results dir means "fresh run": any other
    // read failure (transient FS error, corrupt footer) must propagate —
    // silently reprocessing everything would append duplicate keys and
    // break the idempotent-resume invariant (ADVICE r01).
    val resultsPath = new org.apache.hadoop.fs.Path(s"$outDir/results")
    val fs = resultsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(resultsPath)) return turns
    // A job SIGKILLed during its FIRST write leaves results/ holding only
    // _temporary (no committed part files): that is still a fresh run —
    // read.parquet on it would fail with a misleading schema-inference
    // error and --resume could never recover (ADVICE r02). Committed =
    // at least one non-hidden data file; the stale _temporary itself is
    // purged later by appendResults before the append commit.
    val committed = fs.listStatus(resultsPath).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!committed) return turns
    val done = spark.read.parquet(s"$outDir/results").select("conv_id", "turn_idx")
    turns.join(done, Seq("conv_id", "turn_idx"), "left_anti").as[Turn]
  }
}
