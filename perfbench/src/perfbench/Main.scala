package perfbench

import java.io.File

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{LogQuiet, Pipeline, SparkEntry}
import graft.model.Turn

/** The repo benchmark. One run = one workload under one seed:
  *
  *   --workload extract_bow|extract_structured
  *   --seed N --seconds S --trace 0|1 --root <checkout> --work <scratch dir>
  *
  * Load is one process at local[nproc], as a closed loop: one job at a
  * time, the next starting only after the previous one committed. With
  * `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * attaches its spans and listener and prints the per-layer metrics.
  * Every run checks its outputs; the last stdout line is the result. */
object Main {

  val Workloads = Seq("extract_bow", "extract_structured")

  /** Turns per extraction job at local[nproc]; the 1-core leg gets 1/nproc. */
  val JobTurns = 10000
  val PartsPerCore = 8
  val WarmTurns = 500
  val SetupReps = 3
  /** Untimed jobs before timing: the first full jobs at local[nproc] run
    * up to 50% slower than later ones while the JIT catches up. */
  val SettleJobs = 2
  /** Timed rounds per run, each one job of each leg. */
  val Rounds = 3
  val CheckSample = 256
  val ReplayTurns = 2000

  val CurationQueries = Seq(
    "x13_jaccard_pairs", "x14_dup_components", "x37_dup_components_star",
    "x66_pagerank", "x92_bpe_merges", "x109_curation_funnel")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, root: String, work: String)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match { case "1" => true; case "0" => false; case t => throw new IllegalArgumentException(s"--trace $t") },
      need("root"), need("work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be >= 1")
    a
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    LogQuiet.muteCheckpointReleaseWarns()
    s
  }

  /** Runs `body` until `budgetS` has passed, at least `min` times. */
  def loop[A](budgetS: Double, min: Int)(body: => A): Vector[A] = {
    val end = System.nanoTime() + (budgetS * 1e9).toLong
    val out = Vector.newBuilder[A]
    var k = 0
    while (k < min || System.nanoTime() < end) { out += body; k += 1 }
    out.result()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, Stats.seconds(t0))
  }

  /** What a run reports besides its metrics. */
  final class Outcome {
    val metrics = ArrayBuffer.empty[Metric]
    val failures = ArrayBuffer.empty[String]
    val samples = LinkedHashMap.empty[String, Seq[Double]]
    var traffic: Map[String, Any] = Map.empty
    var extra: Map[String, Any] = Map.empty
    var attempted = 0L
    var failed = 0L
    private val t0 = System.nanoTime()
    /** Seconds since the run started at which each phase ended, and the
      * JVM's VmHWM then. */
    val phases = LinkedHashMap.empty[String, Double]
    val phaseRssMb = LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = {
      phases(name) = Stats.seconds(t0)
      phaseRssMb(name) = Host.rssPeakMb
    }
  }

  def run(a: Args): Int = {
    val loadStart = Host.loadavg
    val cpuStart = Host.cpuJiffies
    val nproc = Runtime.getRuntime.availableProcessors()
    new File(a.work).mkdirs()
    val o = new Outcome
    new Extraction(a, nproc, o).run()

    // VmHWM once the timed jobs are done, before checks and traced work.
    o.metrics += Metric("jvm.rss_peak_mb", o.phaseRssMb("measure"), "MiB")
    val wanted = if (a.trace) PerLayerNames.all else EndToEndNames
    val byName = o.metrics.map(m => m.name -> m).toMap
    val missing = wanted.filterNot(byName.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    val correct = o.failures.isEmpty
    val shown = LinkedHashMap.empty[String, Any]
    for (n <- wanted; m = byName(n)) shown(n) = LinkedHashMap("value" -> number(m), "unit" -> m.unit)
    val record = LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "host" -> Host.stamp(nproc, loadStart, cpuStart), "traffic" -> o.traffic,
      "failures" -> o.failures.toSeq, "samples" -> o.samples, "phases" -> o.phases,
      "phase_rss_mb" -> o.phaseRssMb, "extra" -> o.extra,
      "metrics" -> o.metrics.map(m => m.name -> LinkedHashMap("value" -> number(m), "unit" -> m.unit)).to(LinkedHashMap))
    for (m <- o.metrics) require(m.value.isFinite, s"non-finite metric ${m.name}: ${m.value}")
    for ((k, xs) <- o.samples; x <- xs) require(x.isFinite, s"non-finite sample of $k: $x")
    println(json.writeValueAsString(Map("record" -> record)))
    o.failures.foreach(f => System.err.println(s"perfbench check failed: $f"))
    println(json.writeValueAsString(LinkedHashMap(
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed, "metrics" -> shown)))
    if (correct) 0 else 1
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def number(m: Metric): Any =
    if ((m.unit == "count" || m.unit == "bytes") && m.value == math.rint(m.value)) m.value.toLong else m.value

  val EndToEndNames = Seq("setup_s", "wall_s", "turns_per_s", "scaling_eff")

  object PerLayerNames {
    val pipeline = Seq("Pipeline.extract_turns.s", "Pipeline.write_results.s",
      "Pipeline.lineage.rows_skew", "Pipeline.lineage.wall_skew", "Pipeline.error_rows")
    val spark = SparkCounters.metrics(Vector.fill(8)(0L), Vector.fill(8)(0L), 1, 1).map(_.name)
    val queryFields = Seq("s" -> "s", "jobs" -> "count", "stages" -> "count", "shuffle_bytes" -> "bytes")
    val queries = for (q <- CurationQueries; (f, _) <- queryFields) yield s"SparkEntry.$q.$f"
    val trace = Seq("trace.wall_s", "trace.overhead_s", "jvm.rss_peak_mb")
    def all: Seq[String] = StageReplay.zeros.map(_.name) ++ pipeline ++ spark ++ queries ++ trace
  }

  /** extract_bow / extract_structured. */
  final class Extraction(a: Args, nproc: Int, o: Outcome) {
    private val structured = a.workload == "extract_structured"
    private val dataDir = s"${a.root}/perfbench/data"
    private val corpusPath = s"${a.root}/src/test/resources/corpus.jsonl"
    private val goldensPath = s"${a.root}/src/test/resources/goldens.jsonl"
    private val parts = PartsPerCore * nproc

    private def makeTurns(spark: SparkSession): Vector[Turn] =
      if (structured) Inputs.sample(Inputs.goldenCorpus(corpusPath), JobTurns, a.seed)
      else Inputs.replicate(Inputs.documentTurns(spark, dataDir), JobTurns, a.seed)

    private def job(input: Dataset[Turn], out: String): Double =
      timed(Pipeline.writeResults(Pipeline.extractTurns(input, safe = true), out))._2

    /** Turns and error rows the committed metrics table reports. */
    private def committed(spark: SparkSession, out: String): (Long, Long) = {
      val r = spark.read.parquet(s"$out/metrics")
        .agg(sum("n_turns"), sum(when(col("status") === "error", col("n_turns")).otherwise(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    /** Counts a job's commit: all `n` turns must be committed; its error
      * rows count as failed. */
    private def count(spark: SparkSession, out: String, n: Long): Unit = {
      val (turns, errors) = committed(spark, out)
      if (turns != n) o.failures += s"a job committed $turns turns, not $n"
      o.attempted += n
      o.failed += errors
    }

    /** One job whose commit is counted; returns its wall time. */
    private def countedJob(spark: SparkSession, input: Dataset[Turn], n: Long, out: String): Double = {
      val w = job(input, out)
      count(spark, out, n)
      w
    }

    /** A closed loop of counted jobs over `input`. */
    private def jobs(spark: SparkSession, input: Dataset[Turn], n: Long, out: String,
                     budget: Double, min: Int): Vector[Double] =
      loop(budget, min)(countedJob(spark, input, n, out))

    def run(): Unit = {
      val out = s"${a.work}/out"
      // Set-up: session, input generation, and JIT/IO warm-up on a small
      // slice through the same sink. Only the first one, cold in a fresh
      // JVM, is setup_s; the repeats are warm restarts that serve as more
      // warm-up, without which the timed jobs still speed up as they run.
      var spark: SparkSession = null
      var turns: Vector[Turn] = null
      var input: Dataset[Turn] = null
      val setups = for (_ <- 1 to SetupReps) yield {
        if (spark != null) { input.unpersist(true); spark.stop() }
        timed {
          spark = session(nproc, a.work)
          turns = makeTurns(spark)
          input = Inputs.persisted(spark, turns, parts)
          val warm = Inputs.persisted(spark, turns.take(WarmTurns), nproc)
          job(warm, s"${a.work}/warm")
          warm.unpersist(true)
        }._2
      }
      o.samples("setup_s") = setups
      o.metrics += Metric("setup_s", setups.head, "s")
      o.traffic = Checks.traffic(turns)
      o.phase("setup")

      val n = turns.length.toLong
      if (!a.trace) {
        // 1-core leg: 1/nproc of the turns as one partition, with one
        // shuffle partition, so every stage of its job is one task on one
        // core; both legs then run about equally long. The legs alternate
        // in one session so both see the same JIT and host state.
        val n1 = turns.length / nproc
        val input1 = Inputs.persisted(spark, turns.take(n1), 1)
        def round() = {
          val w = countedJob(spark, input, n, out)
          spark.conf.set("spark.sql.shuffle.partitions", 1)
          val w1 = countedJob(spark, input1, n1.toLong, s"${a.work}/out1")
          spark.conf.set("spark.sql.shuffle.partitions", nproc)
          (w, w1)
        }
        for (_ <- 1 to SettleJobs) round()
        val rounds = loop(a.seconds, Rounds)(round())
        val walls = rounds.map(_._1)
        val walls1 = rounds.map(_._2)
        o.samples("wall_s") = walls
        o.samples("wall_s_1core") = walls1
        val wall = Stats.median(walls)
        o.phase("measure")
        o.metrics += Metric("wall_s", wall, "s")
        o.metrics += Metric("turns_per_s", n / wall, "1/s")
        // Each leg's throughput over all its timed jobs: a ratio of sums,
        // so rounds slowed together by the host weigh the same in both legs.
        o.metrics += Metric("scaling_eff", (n / walls.sum) / (nproc * (n1 / walls1.sum)), "ratio")
        check(spark, input, turns, out)
        spark.stop()
      } else {
        val budget = a.seconds / 4.0
        settle(spark, input, n, out)
        val walls = jobs(spark, input, n, out, budget, 1)
        o.samples("wall_s") = walls
        o.phase("measure")
        check(spark, input, turns, out)
        traced(spark, input, n, out, budget, Stats.median(walls))
        o.phase("traced")
        val replayed = turns.take(ReplayTurns)
        val diverged = StageReplay.mismatches(replayed)
        o.failures ++= diverged.take(3)
        if (diverged.length > 3) o.failures += s"${diverged.length} turns in all differ in the stage replay"
        o.metrics ++= StageReplay.measure(replayed, a.seconds / 8.0)
        o.phase("replay")
        input.unpersist(true)
        // The curation queries read the documents table, which is this
        // workload's input; the other workload reports them as 0.
        if (structured)
          o.metrics ++= (for (q <- CurationQueries; (f, u) <- PerLayerNames.queryFields)
            yield Metric(s"SparkEntry.$q.$f", 0.0, u))
        else new CurationPass(a, o).traced(spark)
        o.phase("curation")
        spark.stop()
      }
    }

    /** Untimed jobs, committed and counted like the others. */
    private def settle(spark: SparkSession, input: Dataset[Turn], n: Long, out: String): Unit =
      jobs(spark, input, n, out, 0.0, SettleJobs)

    private def check(spark: SparkSession, input: Dataset[Turn], turns: Vector[Turn], out: String): Unit = {
      o.traffic ++= Checks.resultTraffic(spark, out)
      o.failures ++= Checks.committedOnce(spark, out, input, turns.length)
      o.failures ++= Checks.localSample(spark, out, turns, a.seed, CheckSample)
      if (structured) o.failures ++= Checks.againstGoldens(spark, out, Checks.loadGoldens(goldensPath))
      o.phase("check")
    }

    private def traced(spark: SparkSession, input: Dataset[Turn], n: Long, out: String,
                       budget: Double, untracedWall: Double): Unit = {
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      var before, after = Vector.empty[Long]
      val walls = loop(budget, 1) {
        val b = counters.snapshot(spark)
        val w = job(input, out)
        before = b
        after = counters.snapshot(spark)
        count(spark, out, n)
        w
      }
      o.samples("trace.wall_s") = walls
      val w = Stats.median(walls)
      o.metrics += Metric("trace.wall_s", w, "s")
      o.metrics += Metric("trace.overhead_s", w - untracedWall, "s")
      // Counts of the last traced job; busy share over its own wall time.
      o.metrics ++= SparkCounters.metrics(before, after, walls.last, nproc)

      // Layer split: extraction materialized, then the sink over the
      // already-extracted, persisted results.
      val (results, extractS) = timed {
        val r = Pipeline.extractTurns(input, safe = true).persist()
        r.count()
        r
      }
      val (_, writeS) = timed(Pipeline.writeResults(results, out))
      results.unpersist(true)
      o.metrics += Metric("Pipeline.extract_turns.s", extractS, "s")
      o.metrics += Metric("Pipeline.write_results.s", writeS, "s")
      val lineage = spark.read.parquet(s"$out/lineage").select("n_rows", "t_ms").collect()
      def skew(xs: Seq[Double]) = { val m = Stats.median(xs); if (m == 0) 0.0 else xs.max / m }
      o.metrics += Metric("Pipeline.lineage.rows_skew", skew(lineage.map(_.getLong(0).toDouble).toSeq), "ratio")
      o.metrics += Metric("Pipeline.lineage.wall_skew", skew(lineage.map(_.getLong(1).toDouble).toSeq), "ratio")
      o.metrics += Metric("Pipeline.error_rows", committed(spark, out)._2.toDouble, "count")
    }
  }

  /** The curation layer (`SparkEntry` / `ops.TrainingOps`): one traced
    * pass of the curation queries over the seed-permuted sf0.1 documents,
    * each forced through the noop sink, checked against pinned results. */
  final class CurationPass(a: Args, o: Outcome) {
    private val pins = Inputs.readJsonl(s"${a.root}/perfbench/curation_pins.json").head

    final case class QueryRun(name: String, seconds: Double, rows: Long, digest: String)

    /** One query through the noop sink; its row count and an
      * order-independent digest are observed in the same job. */
    private def query(spark: SparkSession, dir: String, name: String): QueryRun = {
      val obs = Observation(s"perfbench-$name")
      val (_, s) = timed {
        val df = SparkEntry.queries(name)(spark, dir)
        df.observe(obs, count(lit(1)).as("rows"),
            sum(xxhash64(df.columns.map(col).toSeq: _*).cast(DecimalType(38, 0))).as("digest"))
          .write.format("noop").mode("overwrite").save()
      }
      val m = obs.get
      QueryRun(name, s, m("rows").asInstanceOf[Long], String.valueOf(m("digest")))
    }

    def traced(spark: SparkSession): Unit = {
      val dir = s"${a.work}/docs"
      Inputs.permutedDocuments(spark, s"${a.root}/perfbench/data", dir, a.seed)
      val counters = new SparkCounters
      spark.sparkContext.addSparkListener(counters)
      val runs = for (q <- CurationQueries) yield {
        o.attempted += 1
        val b = counters.snapshot(spark)
        val r =
          try query(spark, dir, q)
          catch {
            case e: Exception =>
              o.failed += 1
              o.failures += s"$q threw ${e.getClass.getName}: ${e.getMessage}"
              QueryRun(q, 0.0, -1, "")
          }
        val e = counters.snapshot(spark)
        o.metrics += Metric(s"SparkEntry.$q.s", r.seconds, "s")
        o.metrics += Metric(s"SparkEntry.$q.jobs", (e(0) - b(0)).toDouble, "count")
        o.metrics += Metric(s"SparkEntry.$q.stages", (e(1) - b(1)).toDouble, "count")
        o.metrics += Metric(s"SparkEntry.$q.shuffle_bytes", (e(6) - b(6)).toDouble, "bytes")
        r
      }
      spark.sparkContext.removeSparkListener(counters)
      for (r <- runs if r.rows >= 0) {
        val pin = pins.get(r.name)
        if (pin == null) o.failures += s"${r.name}: no pinned result"
        else if (pin.get("rows").asLong() != r.rows || pin.get("digest").asText() != r.digest)
          o.failures += s"${r.name}: rows ${r.rows} digest ${r.digest} != pinned ${pin.get("rows")} ${pin.get("digest")}"
      }
      o.extra ++= Map("curation" -> runs.map(r => r.name -> Map("rows" -> r.rows, "digest" -> r.digest)).toMap)
    }
  }
}
