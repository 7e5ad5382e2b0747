package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Sustained streaming soak for the ingest-curation gate (VERDICT r05
  * next #5): drives StreamingPipeline.streamIngestCurate over a long
  * multi-batch MemoryStream of sf-derived documents, recording
  * per-batch latency and end-to-end throughput, plus the
  * streamCalibratedScores twin. The static ref side is the sf corpus's
  * mod-13 slice (the x110 split); the stream replays the remaining
  * docs `repeat` times with fresh doc_ids so fingerprints never
  * collide away the work.
  *
  * Usage: sbt "runMain graft.tools.SoakStreamIngest [nBatches] [rowsPerBatch]"
  * Prints one JSON line with per-batch ms and rows/s.
  */
object SoakStreamIngest {
  def main(args: Array[String]): Unit = {
    val nBatches = if (args.length > 0) args(0).toInt else 40
    val perBatch = if (args.length > 1) args(1).toInt else 2000
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("soak-stream-ingest")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LogQuiet.muteCheckpointReleaseWarns()
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val ref = docs.filter(pmod(col("doc_id"), lit(13L)) === 0)
    val pool = docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0)
      .as[(Long, String)].collect()

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val t0 = System.nanoTime()
    // a MemoryStream batch is ONE partition; a production source
    // (Kafka) arrives partitioned — repartition the stream here so the
    // soak measures the operator, not the test source's layout
    val gate = graft.streaming.StreamingPipeline.streamIngestCurate(
      input.toDF().toDF("doc_id", "text").repartition(cores), ref)
    val q = gate.plan
      .writeStream.format("memory").queryName("soak_ingest")
      .outputMode(OutputMode.Append).start()
    val setupMs = (System.nanoTime() - t0) / 1e6

    val lat = new Array[Double](nBatches)
    var idBase = 10000000L
    var total = 0L
    for (b <- 0 until nBatches) {
      val batch = (0 until perBatch).map { i =>
        val (_, text) = pool((b * perBatch + i) % pool.length)
        (idBase + i, text)
      }
      idBase += perBatch
      total += perBatch
      val tb = System.nanoTime()
      input.addData(batch: _*)
      q.processAllAvailable()
      lat(b) = (System.nanoTime() - tb) / 1e6
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val outRows = spark.sql("SELECT count(*) FROM soak_ingest").head().getLong(0)
    q.stop()
    gate.release()
    val sorted = lat.sorted
    def pct(p: Double) = sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    def f(d: Double) = f"$d%.1f".toDouble
    println(s"""{"soak":"stream_ingest_curate","batches":$nBatches,"rows_per_batch":$perBatch,""" +
      s""""rows_in":$total,"rows_out":$outRows,"setup_ms":${f(setupMs)},""" +
      s""""wall_sec":${f(wall)},"rows_per_sec":${f(total / wall)},""" +
      s""""batch_ms_p50":${f(pct(0.5))},"batch_ms_p95":${f(pct(0.95))},""" +
      s""""batch_ms_max":${f(sorted.last)}}""")

    // --- streamCalibratedScores twin over the same cadence ---------------
    val hist = spark.read.parquet(s"$sfDir/documents.parquet")
    val cin = MemoryStream[(Long, String, String)]
    val tc0 = System.nanoTime()
    val calib = graft.streaming.StreamingPipeline.streamCalibratedScores(
      cin.toDF().toDF("doc_id", "text", "source"), hist)
    val cq = calib.plan
      .writeStream.format("memory").queryName("soak_calib")
      .outputMode(OutputMode.Append).start()
    val poolS = docs.join(
        spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "source"),
        Seq("doc_id"))
      .as[(Long, String, String)].collect()
    val clat = new Array[Double](nBatches)
    var cTotal = 0L
    for (b <- 0 until nBatches) {
      val batch = (0 until perBatch).map { i =>
        val (_, text, src) = poolS((b * perBatch + i) % poolS.length)
        (idBase + i, text, src)
      }
      idBase += perBatch
      cTotal += perBatch
      val tb = System.nanoTime()
      cin.addData(batch: _*)
      cq.processAllAvailable()
      clat(b) = (System.nanoTime() - tb) / 1e6
    }
    val cWall = (System.nanoTime() - tc0) / 1e9
    val cOut = spark.sql("SELECT count(*) FROM soak_calib").head().getLong(0)
    cq.stop()
    calib.release()
    val cs = clat.sorted
    def cpct(p: Double) = cs(math.min(cs.length - 1, (p * cs.length).toInt))
    println(s"""{"soak":"stream_calibrated_scores","batches":$nBatches,"rows_per_batch":$perBatch,""" +
      s""""rows_in":$cTotal,"rows_out":$cOut,""" +
      s""""wall_sec":${f(cWall)},"rows_per_sec":${f(cTotal / cWall)},""" +
      s""""batch_ms_p50":${f(cpct(0.5))},"batch_ms_p95":${f(cpct(0.95))},""" +
      s""""batch_ms_max":${f(cs.last)}}""")
    spark.stop()
  }
}
