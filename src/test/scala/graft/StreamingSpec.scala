package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.CacheProbe.cachedEntries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Turn
import graft.streaming.StreamingPipeline

/** Streaming pipeline semantics: extraction through a MemoryStream must
  * match batch extraction exactly; the EMA state must fold across
  * micro-batches the way the reference's rolling stats fold across
  * requests. */
class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def turns(n: Int, offset: Int = 0): Seq[Turn] =
    (0 until n).map { i =>
      val k = i + offset
      Turn(f"sconv-$k%04d", k % 5, "user",
        s"Sentence number $k about data. Another line follows here.\n\nSecond paragraph block $k.",
        if (k % 3 == 0) "receipt" else "document",
        new Timestamp(1700000000000L + k * 60000L))
    }

  test("streaming extraction == batch extraction") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline.streamExtract(input.toDS())
      .writeStream.format("memory").queryName("stream_out")
      .outputMode(OutputMode.Append).start()
    input.addData(turns(20))
    q.processAllAvailable()
    input.addData(turns(20, offset = 20))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT conv_id, turn_idx, text, summary, status FROM stream_out")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getString(3), r.getString(4))).toMap
    val batch = turns(40).map(Extractor.extract)
    assert(streamed.size == 40)
    for (b <- batch) {
      val s = streamed((b.conv_id, b.turn_idx))
      assert(s == ((b.text, b.summary, b.status)), s"mismatch at ${b.conv_id}/${b.turn_idx}")
    }
  }

  test("streaming dedup drops repeated fingerprints across micro-batches, keeps one per distinct text") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline.streamDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    // batch 1: 10 distinct + 5 in-batch duplicates (same normalized text)
    val distinct1 = turns(10)
    val dups1 = turns(5).map(t => t.copy(conv_id = t.conv_id + "-dup",
      text = "  " + t.text.replace(" ", "  ") + " ")) // same normText fingerprint
    input.addData(distinct1 ++ dups1)
    q.processAllAvailable()
    // batch 2: 5 cross-batch duplicates of batch 1 + 5 new distinct
    val dups2 = turns(5).map(t => t.copy(conv_id = t.conv_id + "-late"))
    val distinct2 = turns(5, offset = 50)
    input.addData(dups2 ++ distinct2)
    q.processAllAvailable()
    q.stop()
    val out = spark.sql("SELECT text FROM dedup_out").collect().map(_.getString(0))
    val expectFps = (distinct1 ++ distinct2).map(t =>
      t.text.toLowerCase.replaceAll("\\s+", " ").trim).toSet
    val gotFps = out.map(_.toLowerCase.replaceAll("\\s+", " ").trim).toSet
    assert(out.length == 15, s"expected 15 survivors, got ${out.length}")
    assert(gotFps == expectFps, s"fingerprint sets diverge: ${gotFps.size} vs ${expectFps.size}")
  }

  test("rolling last-10 state keeps only the final 10 costs per kind") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    // single kind + single-partition batches: per-key arrival order is
    // deterministic, so the ring-buffer window is exactly checkable
    def docTurns(n: Int, offset: Int): Seq[Turn] = (0 until n).map { i =>
      val k = i + offset
      Turn(f"rconv-$k%04d", 0, "user",
        s"Rolling window turn $k with some padding text ${"x" * (k % 7)}.",
        "document", new Timestamp(1700000000000L + k * 60000L))
    }
    val q = StreamingPipeline.rollingStats(StreamingPipeline.streamExtract(input.toDS()))
      .writeStream.format("memory").queryName("rolling_out")
      .outputMode(OutputMode.Update).start()
    input.addData(docTurns(18, 0))
    q.processAllAvailable()
    input.addData(docTurns(18, 18))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT payload_kind, n_turns, rolling_avg10 FROM rolling_out").collect()
    val last = rows.maxBy(_.getLong(1))
    val costs = (docTurns(18, 0) ++ docTurns(18, 18)).map(t => Extractor.extract(t).n_chars)
    val expect = costs.takeRight(10).sum.toDouble / 10
    assert(last.getLong(1) == 36L)
    assert(math.abs(last.getDouble(2) - expect) < 1e-9,
      s"rolling avg ${last.getDouble(2)} != $expect")
  }

  test("file-source stream restarts from the checkpoint with state intact") {
    // the §2.10 resume story for streaming: a real file source + a real
    // checkpointLocation; the query is stopped and RESTARTED (new query
    // object, same checkpoint) and the flatMapGroupsWithState counters
    // must carry over instead of restarting from zero.
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val inDir = s"$root/in"; val ckpt = s"$root/ckpt"; val outDir = s"$root/out"
    def writeBatch(n: Int, offset: Int): Unit =
      spark.createDataset(turns(n, offset)).repartition(1)
        .write.mode("append").parquet(inDir)
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Turn].schema)
        .parquet(inDir).as[Turn]
      val q = StreamingPipeline.emaStats(StreamingPipeline.streamExtract(src))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamingPipeline.KindStats], _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    writeBatch(15, 0)
    runOnce()
    writeBatch(15, 15) // arrives while no query is running
    runOnce() // RESTART: fresh query object, same checkpoint
    val rows = spark.read.parquet(outDir)
      .select("payload_kind", "n_turns").collect()
    val last = rows.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).max }
    val expected = turns(30).groupBy(t => graft.model.PayloadKind.fromTool(t.tool))
      .map { case (k, ts) => k -> ts.length.toLong }
    for ((kind, n) <- expected)
      assert(last.get(kind).contains(n),
        s"state for $kind lost across restart: got ${last.get(kind)}, want $n")
  }

  test("EMA success-rate state folds across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Turn]
    val q = StreamingPipeline.emaStats(StreamingPipeline.streamExtract(input.toDS()))
      .writeStream.format("memory").queryName("ema_out")
      .outputMode(OutputMode.Update).start()
    input.addData(turns(12))
    q.processAllAvailable()
    input.addData(turns(12, offset = 12))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT payload_kind, n_turns, n_success, ema_success FROM ema_out").collect()
    // last update per kind reflects the full 24 turns
    val last = rows.groupBy(_.getString(0)).map { case (k, rs) => k -> rs.maxBy(_.getLong(1)) }
    val expectedCounts = turns(24).groupBy(t => graft.model.PayloadKind.fromTool(t.tool)).map {
      case (k, ts) => k -> ts.length
    }
    for ((kind, n) <- expectedCounts) {
      assert(last.contains(kind), s"missing kind $kind")
      assert(last(kind).getLong(1) == n.toLong, s"kind $kind count ${last(kind).getLong(1)} != $n")
      // replicate the EMA fold: all turns succeed (non-trivial text) → ema → 1
      val ema = last(kind).getDouble(3)
      assert(ema > 0.99, s"ema for $kind should converge to 1, got $ema")
    }
  }

  test("streaming session windows match batch sessionize, including the gap==1800s boundary") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    // user 1: gaps 600s (merge), exactly 1800s (merge — batch splits only
    // at gap>1800), 1801s (split) → 2 sessions of 3+1 events.
    // user 2: single event. user 3: two events 7200s apart → 2 sessions.
    val evs = Seq(
      (1L, 101L, new Timestamp(t0)),
      (1L, 102L, new Timestamp(t0 + 600000L)),
      (1L, 103L, new Timestamp(t0 + 600000L + 1800000L)),
      (1L, 104L, new Timestamp(t0 + 600000L + 1800000L + 1801000L)),
      (2L, 201L, new Timestamp(t0)),
      (3L, 301L, new Timestamp(t0)),
      (3L, 302L, new Timestamp(t0 + 7200000L)))
    val input = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingPipeline.sessionCounts(
      input.toDF().toDF("user_id", "event_id", "ts"), watermark = None)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(evs.take(3))
    q.processAllAvailable()
    input.addData(evs.drop(3)) // rest arrives in a later micro-batch
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      """SELECT user_id, count(*) AS n_sessions, sum(n_events) AS n_events
        |FROM sessions_out GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.ops.TrainingOps.sessionize(
      evs.toDF("user_id", "event_id", "ts"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(streamed(1L) == ((2L, 4L)) && streamed(3L) == ((2L, 2L)))
  }

  test("streaming near-dup pairs across micro-batches equal the batch x06 simhash pairs") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the real corpus (sf0.01, 500 docs, 1439 batch pairs) fed in two
    // micro-batches split mid-corpus: cross-batch pairs must surface
    // from state, in-batch pairs from the iterator — the DISTINCT
    // emitted set must equal the batch banded equi-join's output
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val (first, second) = docs.splitAt(docs.length / 2)
    val input = MemoryStream[(Long, String)]
    val q = StreamingPipeline.streamNearDupPairs(input.toDS())
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode(OutputMode.Append).start()
    input.addData(first.toSeq)
    q.processAllAvailable()
    input.addData(second.toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT DISTINCT id_a, id_b, hamming FROM neardup_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = graft.ops.TrainingOps.simhashNearDupPairs(
      spark.read.parquet("/root/testdata/sf0.01/documents.parquet"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(batch.nonEmpty, "fixture must contain near-dups")
    assert(streamed == batch,
      s"stream extra=${(streamed -- batch).take(3)} missing=${(batch -- streamed).take(3)} " +
        s"(stream ${streamed.size} vs batch ${batch.size})")
  }

  test("the batch convRollup plan runs unchanged as a streaming aggregation (complete mode)") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    // multi-turn conversations; conversation 001 straddles the two
    // micro-batches, so its counters must fold across state
    def mt(n: Int, offset: Int): Seq[Turn] = (0 until n).map { i =>
      val k = i + offset
      Turn(f"rconv-${k / 7}%03d", k % 7, Seq("user", "assistant", "tool")(k % 3),
        s"turn body $k words here", Seq("document", "receipt")(k % 2),
        new Timestamp(1700000000000L + k * 1000L))
    }
    val input = MemoryStream[Turn]
    val q = graft.ops.TrainingOps.convRollup(input.toDS().toDF())
      .writeStream.format("memory").queryName("conv_rollup_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(mt(10, 0))
    q.processAllAvailable()
    input.addData(mt(11, 10))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT * FROM conv_rollup_out")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val batch = graft.ops.TrainingOps.convRollup(mt(21, 0).toDF())
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(streamed.keySet == Set("rconv-000", "rconv-001", "rconv-002"))
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming CMS counters fold across micro-batches and equal the batch build") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    // token 'aa' appears in BOTH micro-batches: its cells must fold
    val b1 = Seq("aa", "bb", "cc", "aa", "dd")
    val b2 = Seq("aa", "ee", "bb", "", "ff")
    val (nRows, width) = (2, 4)
    val input = MemoryStream[String]
    val q = graft.ops.TrainingOps
      .cmsCountersFromTokens(input.toDS().toDF("tok"), nRows, width)
      .writeStream.format("memory").queryName("cms_counters_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(b1)
    q.processAllAvailable()
    input.addData(b2)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT * FROM cms_counters_out")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = graft.ops.TrainingOps
      .cmsCountersFromTokens((b1 ++ b2).toDF("tok"), nRows, width)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // JVM ground truth: same portable hash, empty token dropped
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val expected = scala.collection.mutable.Map[(Int, Long), Long]().withDefaultValue(0L)
    for (t <- (b1 ++ b2).filter(_.nonEmpty); r <- 0 until nRows)
      expected((r, h32(s"cms:$r:$t") % width)) += 1L
    assert(streamed == expected.toMap, s"stream $streamed vs jvm $expected")
    assert(batch == expected.toMap, s"batch $batch vs jvm $expected")
  }

  test("streaming decontamination hit counts == batch decontaminate, across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench13 = (1 to 13).map(i => s"bench$i").mkString(" ")
    val other13 = (1 to 13).map(i => s"memo$i").mkString(" ")
    val benchmark = Seq((900L, s"$bench13 plus trailing benchmark prose"),
      (901L, other13)).toDF("doc_id", "text")
    // doc 1: one contaminated 13-gram; doc 2: clean; doc 3 (batch 2):
    // contains BOTH benchmark grams; doc 4: clean
    val b1 = Seq((1L, s"leading words then $bench13 and a tail"),
      (2L, "totally clean document with enough words to mean something"))
    val b2 = Seq((3L, s"$bench13 middle filler $other13"),
      (4L, "another clean one"))
    val input = MemoryStream[(Long, String)]
    val cachedBefore = cachedEntries(spark)
    val twin = StreamingPipeline.streamDecontaminate(
      input.toDF().toDF("doc_id", "text"), benchmark)
    val q = twin.plan
      .writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Update).start()
    input.addData(b1: _*)
    q.processAllAvailable()
    input.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    twin.release()
    assert(cachedEntries(spark) == cachedBefore, "the static gram set outlived its stream")
    // update mode re-emits a key only if its aggregate changed; each
    // doc's grams arrive in one row, so the LAST value per key is final
    val streamed = spark.sql("SELECT doc_id, n_hits FROM decon_out")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.ops.TrainingOps.decontaminate(
      (b1 ++ b2).toDF("doc_id", "text"), benchmark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.keySet == Set(1L, 3L), s"planted contamination wrong: $batch")
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    assert(streamed(3L) > streamed(1L),
      "doc with both benchmark grams must count more hits")
  }

  test("streaming anomaly flags against historical fences == batch x81, across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    // historical: type a sorted [1..7, 100] → fences [-2.5, 11.5];
    // type b constant 5.0 → fences collapse to [5, 5]
    val hist = ((0 until 8).map(i =>
      (i.toLong, "a", Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 100.0)(i))) ++
      Seq((100L, "b", 5.0), (101L, "b", 5.0))).toDF("event_id", "event_type", "value")
    val live1 = Seq((200L, "a", 3.0), (201L, "a", 50.0), (202L, "b", 5.0))
    val live2 = Seq((203L, "a", -9.0), (204L, "b", 5.1))
    val input = MemoryStream[(Long, String, Double)]
    val cachedBefore = cachedEntries(spark)
    val twin = StreamingPipeline.streamEventAnomalies(
      input.toDF().toDF("event_id", "event_type", "value"), hist)
    val q = twin.plan
      .writeStream.format("memory").queryName("anom_out")
      .outputMode(OutputMode.Append).start()
    input.addData(live1: _*)
    q.processAllAvailable()
    input.addData(live2: _*)
    q.processAllAvailable()
    q.stop()
    twin.release()
    assert(cachedEntries(spark) == cachedBefore, "the static fence table outlived its stream")
    val streamed = spark.sql("SELECT * FROM anom_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
    val batch = graft.ops.TrainingOps.anomalyFlagsCore(
      (live1 ++ live2).toDF("event_id", "event_type", "value"),
      graft.ops.TrainingOps.eventFences(hist)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSet
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val flags = streamed.map(t => t._1 -> t._6).toMap
    assert(flags == Map(200L -> 0L, 201L -> 1L, 202L -> 0L, 203L -> 1L, 204L -> 1L),
      s"fence decisions wrong: $flags")
  }

  test("streaming calibrated scores against historical stats == batch x96 core, across micro-batches") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(id: Long, letters: Int, src: String) =
      (id, "a" * letters + "." * (100 - letters), src)
    // historical calibration batch: s1 spread with outliers, s2 constant
    val hist = ((0 until 20).map(i => doc(i.toLong, 50 + i, "s1")) ++
      Seq(doc(100L, 1, "s1"), doc(101L, 99, "s1")) ++
      (0 until 4).map(i => doc(200L + i, 30, "s2")))
      .toDF("doc_id", "text", "source")
    val live1 = Seq(doc(300L, 55, "s1"), doc(301L, 2, "s1"), doc(302L, 30, "s2"))
    val live2 = Seq(doc(303L, 98, "s1"), doc(304L, 60, "s2"))
    val input = MemoryStream[(Long, String, String)]
    val cachedBefore = cachedEntries(spark)
    val twin = StreamingPipeline.streamCalibratedScores(
      input.toDF().toDF("doc_id", "text", "source"), hist)
    val q = twin.plan
      .writeStream.format("memory").queryName("calib_out")
      .outputMode(OutputMode.Append).start()
    input.addData(live1: _*)
    q.processAllAvailable()
    input.addData(live2: _*)
    q.processAllAvailable()
    q.stop()
    twin.release()
    assert(cachedEntries(spark) == cachedBefore, "the static calibration table outlived its stream")
    def rowSet(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val streamed = rowSet(spark.sql("SELECT * FROM calib_out").collect())
    val batch = rowSet(graft.ops.TrainingOps.calibrateCore(
      graft.ops.TrainingOps.scoreProjection(
        (live1 ++ live2).toDF("doc_id", "text", "source")),
      graft.ops.TrainingOps.calibrationStats(hist)).collect())
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val byId = streamed.map(t => t._1 -> t).toMap
    assert(byId(301L)._4 > byId(301L)._3,
      "live outlier below the historical p05 fence must clamp up")
    assert(byId(303L)._4 < byId(303L)._3,
      "live outlier above the historical p95 fence must clamp down")
    assert(byId(302L)._5 == 0.0 && byId(304L)._5 == 0.0,
      "constant-calibration source must read z=0 for any live score")
  }

  test("streaming ingest gate == batch x110 core, across micro-batch splits") {
    val ss = spark
    import ss.implicits._
    implicit val sqlCtx = spark.sqlContext
    // reference corpus: two distinct long texts (9-gram shingles need
    // length); the stream sees an exact clone, unrelated docs, and a
    // duplicate-of-duplicate across different micro-batches
    val refText =
      "the quick brown fox jumps over the lazy dog again and again tonight"
    val otherRef =
      "completely different reference material about integer arithmetic rules"
    val ref = Seq((13L, refText), (26L, otherRef)).toDF("doc_id", "text")
    val live1 = Seq((1L, refText), (2L, "short novel text one of a kind here"))
    val live2 = Seq((3L, refText), (4L, "another fresh document nothing like the reference"))
    val input = MemoryStream[(Long, String)]
    val cachedBefore = cachedEntries(spark)
    val twin = StreamingPipeline.streamIngestCurate(
      input.toDF().toDF("doc_id", "text"), ref)
    val q = twin.plan
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode(OutputMode.Append).start()
    input.addData(live1: _*)
    q.processAllAvailable()
    input.addData(live2: _*)
    q.processAllAvailable()
    q.stop()
    twin.release()
    assert(cachedEntries(spark) == cachedBefore, "the static ref tables outlived their stream")
    def rowSet(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val streamed = rowSet(spark.sql("SELECT * FROM ingest_out").collect())
    val r = graft.ops.TrainingOps.ingestRefTables(ref)
    val batch = try rowSet(graft.ops.TrainingOps.ingestCurateCore(
      (live1 ++ live2).toDF("doc_id", "text"), r.fp, r.buckets, 0.8).collect())
    finally r.release()
    assert(streamed == batch, s"stream $streamed vs batch $batch")
    val byId = streamed.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 == 1L && byId(1L)._3 == 1L && byId(1L)._5 == 0L,
      "an exact ref clone must be gated out in-stream")
    assert(byId(3L)._2 == 1L,
      "a clone arriving in a LATER micro-batch is still caught (static ref)")
    assert(byId(2L)._2 == 0L && byId(2L)._3 == 0L,
      "fresh text must not trip the dup flags")
  }
}
