package graft

import org.apache.spark.sql.SparkSession

/** The spark-submit job entry point (north_rule: "run via spark-submit
  * on a multi-executor cluster").
  *
  * Usage:
  *   spark-submit --class graft.Run <jar> <input> <outDir> [options]
  *
  *   <input>   either a parquet path of transcript rows
  *             (conv_id, turn_idx, role, text, tool, ts) or an sf dir
  *             containing documents.parquet (auto-derived transcripts)
  *   <outDir>  output root; writes results/, lineage/, metrics/
  *   --resume            anti-join against outDir/results and only
  *                       process the remainder (append)
  *   --partitions N      extraction partitions: the salted repartition
  *                       width (default: keep input partitioning —
  *                       extraction itself needs no shuffle); the sink
  *                       still merges slices under 4 MiB into fewer
  *                       write tasks
  *
  * In local mode (no spark-submit master) it self-configures local[*];
  * under spark-submit the provided master/executors are untouched —
  * Iceberg would slot in here as the catalog format for snapshot
  * commits; this sandbox ships parquet only, so checkpoint semantics
  * are parquet results + anti-join resume (SURVEY.md §2.10).
  */
object Run {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Run <input> <outDir> [--resume] [--partitions N]")
      sys.exit(2)
    }
    val input = args(0)
    val outDir = args(1)
    val resume = args.contains("--resume")
    val partitions = args.sliding(2).collectFirst {
      case Array("--partitions", n) => n.toInt
    }.getOrElse(-1)

    val builder = SparkSession.builder().appName("graft-extract")
    if (!sys.props.contains("spark.master") && sys.env.get("MASTER").isEmpty)
      builder.master(s"local[${Runtime.getRuntime.availableProcessors()}]")
        .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors())
    val spark = builder
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LogQuiet.muteCheckpointReleaseWarns()

    val t0 = System.nanoTime()
    val allTurns =
      if (new java.io.File(s"$input/documents.parquet").exists())
        Pipeline.turnsFromDocuments(spark, input)
      else Pipeline.turnsSchemaDf(spark, input)

    val turns = if (resume) Pipeline.resume(spark, allTurns, outDir) else allTurns
    // job path runs with the poison-turn guard: a pathological payload
    // becomes a status="error" row, not a 4x-retried task failure
    val results = Pipeline.extractTurns(turns, partitions, safe = true)
    if (resume) Pipeline.appendResults(results, outDir)
    else Pipeline.writeResults(results, outDir)

    val n = spark.read.parquet(s"$outDir/results").count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"job":"graft-extract","rows_total":$n,"wall_sec":$sec%.2f,"resume":$resume}""")
    spark.stop()
  }
}
