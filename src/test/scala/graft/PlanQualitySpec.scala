package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TrainingOps

/** Physical-plan assertions — the 100 TB safety net (SURVEY.md §4.2).
  * Verifies that Catalyst actually gives us pushdown, pruning,
  * broadcast, and whole-stage codegen on the headline queries, so a
  * scale-up doesn't silently degrade to full scans / shuffle joins.
  */
class PlanQualitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("plan-quality")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString()
  }

  test("q01: filter is pushed to the parquet scan") {
    val p = plan("q01_pushdown_agg")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"expected l_shipdate in PushedFilters:\n$p")
  }

  test("q01: scan reads only the needed columns (pruning)") {
    val p = plan("q01_pushdown_agg")
    assert(p.contains("ReadSchema"), p)
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      s"scan should not read unused key columns: $readSchema")
  }

  test("q03: nation join is a broadcast join") {
    val p = plan("q03_join_nation_revenue")
    assert(p.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin:\n$p")
  }

  test("q01: aggregation has a partial (map-side) phase") {
    val p = plan("q01_pushdown_agg")
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("q01: whole-stage codegen covers the agg pipeline") {
    val df = SparkEntry.queries("q01_pushdown_agg")(spark, sfDir)
    val p = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"), s"expected WholeStageCodegen spans:\n${p.take(2000)}")
  }

  test("q13: ANN brute-force is a TakeOrderedAndProject (no global sort)") {
    val p = plan("q13_ann_brute")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("q14: cosine pairs is an equi-join on grid cells, not a cross join") {
    val p = plan("q14_cos_neardup_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q14 must not cross-join at scale:\n$p")
    assert(p.contains("ckey"), s"expected the grid-cell equi key in the plan:\n$p")
  }

  test("q21: containment join is gram-blocked, not a nested-loop cross") {
    val p = plan("q21_containment_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"q21 must not cross-join at scale:\n$p")
  }

  test("q21: at scale the gram join is a shuffled join with the unexploded side as build side") {
    // pin the 100× shape (round-2 VERDICT "What's wrong" #3): with
    // auto-broadcast off (as it would be at real sizes) the gram join
    // must be a shuffled equi-join, and with hash joins allowed the
    // build side must be the SMALLER, UNEXPLODED prefix side (a), not
    // the ~20×-exploded gram side (b).
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p1 = plan("q21_containment_join")
      assert(!p1.contains("BroadcastNestedLoopJoin") && !p1.contains("CartesianProduct")
        && !p1.contains("BroadcastHashJoin"),
        s"q21 with broadcast disabled must shuffle, not broadcast:\n$p1")
      val joinLine = p1.linesIterator.find(_.contains("ShuffledHashJoin")).getOrElse("")
      assert(joinLine.contains("ShuffledHashJoin"),
        s"expected ShuffledHashJoin (shuffle_hash hint on the prefix side):\n$p1")
      assert(joinLine.contains("BuildLeft"),
        s"hash build side must be the unexploded prefix side (left):\n$joinLine\n$p1")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("x06: simhash signatures compute once behind a materialization boundary") {
    // inspect the LAZY plan (the public operator materializes it eagerly
    // and then releases the cache — round-3 unpersist fix)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s = graft.ops.TrainingOps.simhashNearDupPairsPlan(docs)
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.contains("InMemoryTableScan"),
        s"expected the persisted signature table on both join sides:\n$p")
      // the expensive fingerprint aggregate must not be inlined into a Filter
      val filterLines = p.linesIterator.filter(_.trim.startsWith("+- Filter")).mkString("\n")
      assert(!filterLines.contains("aggregate("),
        s"simhash aggregate leaked into a Filter:\n$filterLines")
      // the band table is built from the unsorted signatures: no range
      // exchange or sort inside the persisted relation
      val cached = s.plan.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cachedPlan.toString()
      }
      assert(cached.nonEmpty &&
        cached.forall(c => !c.contains("Sort [") && !c.contains("rangepartitioning")),
        s"the band relation sorts its signatures:\n${cached.mkString("\n")}")
    } finally s.release()
  }

  test("x13: jaccard pipeline reads the cached signature table, no cross join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s = graft.ops.TrainingOps.jaccardNearDupPairsPlan(docs)
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.contains("InMemoryTableScan"),
        s"expected the persisted hash-array table behind the band join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"x13 must stay an equi-join pipeline:\n$p")
    } finally s.release()
  }

  /** Runs each operator once, in order, and holds its materialized
    * result. After each one the cached frames must be exactly those of
    * before (checked per operator: a later operator that re-persists
    * the same plan would otherwise unpersist an earlier one's leak);
    * after all of them the persisted RDDs at most those of before plus
    * one checkpoint per held result — every signature, band and edge
    * cache and every loop checkpoint the operators staged is gone. */
  private def assertReleasedAfter(ops: (() => org.apache.spark.sql.DataFrame)*): Unit = {
    import org.apache.spark.sql.graftshim.CacheProbe.cachedEntries
    val sc = spark.sparkContext
    val cachedBefore = cachedEntries(spark)
    val before = sc.getPersistentRDDs.size
    val results = ops.zipWithIndex.map { case (op, i) =>
      val r = op()
      assert(cachedEntries(spark) == cachedBefore,
        s"operator $i: ${cachedEntries(spark) - cachedBefore} cached frames left after its result materialized")
      r
    }
    // poll rather than one fixed sleep: the ops release via
    // unpersist(blocking=false) and ContextCleaner GC, both asynchronous —
    // a single 500 ms nap made this assert timing-dependent (the r4
    // pageRank flake class)
    val deadline = System.nanoTime() + 10000000000L
    while (sc.getPersistentRDDs.size > before + results.size && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(100)
    }
    val after = sc.getPersistentRDDs.size
    assert(after <= before + results.size,
      s"persisted RDDs: before=$before after=$after with ${results.size} results held")
  }

  test("x06/x13/x14: caches are released after the result materializes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assertReleasedAfter(
      () => graft.ops.TrainingOps.simhashNearDupPairs(docs),
      () => graft.ops.TrainingOps.jaccardNearDupPairs(docs),
      () => graft.ops.TrainingOps.dupComponents(docs))
  }

  test("star member labels stay lazy until the caller materializes") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftshim.CacheProbe.cachedEntries
    val sc = spark.sparkContext
    val path = spark.range(63).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val cachedBefore = cachedEntries(spark)
    val (labels, _) = graft.ops.TrainingOps.connectedComponentsStarMembersWithRounds(path)
    try {
      // a distinct over the last round's checkpointed edge scan, not a
      // scan of a label checkpoint of its own
      val p = labels.plan.queryExecution.executedPlan.toString()
      assert(p.contains("HashAggregate") && p.contains("Scan ExistingRDD"),
        s"expected a lazy distinct over the edge checkpoint:\n$p")
      val comps = labels.plan.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(comps.map(_._1).sorted.toSeq == (0L to 63L) && comps.forall(_._2 == 0L),
        s"a 64-node path is one component rooted at 0: ${comps.toSeq}")
    } finally labels.release()
    val left = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
    assert(left.isEmpty, s"${left.size} persisted RDDs left after release")
    assert(cachedEntries(spark) == cachedBefore,
      s"${cachedEntries(spark) - cachedBefore} cached frames left after release")
  }

  // --- Staged.iterate: the one fixed-point loop's release accounting ------

  /** Drives `Staged.iterate` over lazily checkpointed `spark.range`
    * rounds whose releases are counted and logged, with the round's
    * action (a count) logged too; `fail` throws from that round's step
    * (`"step"`) or action (`"action"`). Returns the outcome, the event
    * log and each state's release count (state 0 is the initial one). */
  private def iterateLogged(rounds: Int, fail: Option[(Int, String)] = None)
      : (Either[Throwable, (TrainingOps.Staged, Int)], Seq[String], Map[Int, Int]) = {
    val log = scala.collection.mutable.ArrayBuffer[String]()
    val released = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)
    def state(i: Int): TrainingOps.Staged = {
      val cp = TrainingOps.trackedCheckpoint(spark.range(8).toDF("id"), eager = false)
      TrainingOps.Staged(cp.plan.withColumn("round", org.apache.spark.sql.functions.lit(i)),
        () => { log += s"release $i"; released(i) += 1; cp.release() })
    }
    var i = 0
    val out = scala.util.Try(TrainingOps.Staged.iterate(state(0)) { _ =>
      i += 1
      if (fail.contains((i, "step"))) throw new RuntimeException(s"step $i")
      state(i)
    } { df =>
      log += s"action $i"
      df.count()
      if (fail.contains((i, "action"))) throw new RuntimeException(s"action $i")
      i == rounds
    }).toEither
    (out, log.toSeq, released.toMap)
  }

  test("Staged.iterate releases each superseded round once, after its successor's action") {
    val (out, log, released) = iterateLogged(rounds = 3)
    val (last, n) = out.toOption.get
    assert(n == 3)
    assert(log == Seq("action 1", "release 0", "action 2", "release 1", "action 3", "release 2"),
      s"events: $log")
    assert(released == Map(0 -> 1, 1 -> 1, 2 -> 1), s"release counts: $released")
    last.release()
  }

  test("Staged.iterate releases the live and the new round once each when a round throws") {
    val (fromStep, stepLog, stepReleased) = iterateLogged(rounds = 5, Some((2, "step")))
    assert(fromStep.left.toOption.exists(_.getMessage == "step 2"), s"$fromStep")
    assert(stepLog == Seq("action 1", "release 0", "release 1"), s"events: $stepLog")
    assert(stepReleased == Map(0 -> 1, 1 -> 1), s"release counts: $stepReleased")
    val (fromAction, actionLog, actionReleased) =
      iterateLogged(rounds = 5, Some((2, "action")))
    assert(fromAction.left.toOption.exists(_.getMessage == "action 2"), s"$fromAction")
    assert(actionLog.take(2) == Seq("action 1", "release 0") &&
      actionLog.drop(2).sorted == Seq("action 2", "release 1", "release 2"), s"events: $actionLog")
    assert(actionReleased == Map(0 -> 1, 1 -> 1, 2 -> 1), s"release counts: $actionReleased")
  }

  test("Staged.iterate throws at the cap and leaves no persisted RDD or cached frame") {
    import org.apache.spark.sql.graftshim.CacheProbe.cachedEntries
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet.toSet
    val cachedBefore = cachedEntries(spark)
    var rounds = 0
    val ex = intercept[IllegalStateException](
      TrainingOps.Staged.iterate(TrainingOps.Staged.persisted(spark.range(8).toDF("id"))) {
        df => TrainingOps.trackedCheckpoint(df.select((df("id") + 1).as("id")), eager = false)
      } { df => rounds += 1; df.count(); false })
    assert(rounds == 50, s"$rounds actions ran under the 50-round cap")
    assert(ex.getMessage.contains("connectedComponentsStar"), ex.getMessage)
    val left = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
    assert(left.isEmpty, s"${left.size} persisted RDDs left after the cap throw")
    assert(cachedEntries(spark) == cachedBefore,
      s"${cachedEntries(spark) - cachedBefore} cached frames left after the cap throw")
  }

  /** Spark jobs `f` starts, read off the listener bus. */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.sql.graftshim.BusProbe.drain
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { f; drain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("component loops: each round is a lazy checkpoint read by one action") {
    import org.apache.spark.sql.functions.col
    def path(n: Int) = spark.range(n - 1).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    // Under AQE every shuffle map stage of a round is a job of its own,
    // so a star round runs 8 jobs and a label-prop round 5-6 on these
    // paths, the round's action last; an eager round checkpoint adds one
    // more job a round. Pinned at the counts of the hand-written loops
    // that Staged.iterate replaced.
    var rounds = 0
    val starJobs = jobsOf {
      val (labels, r) = TrainingOps.connectedComponentsStarMembersWithRounds(path(64))
      rounds = r
      labels.materialize()
    }
    assert(rounds == 7, s"a 64-node path took $rounds star rounds")
    assert(starJobs == 8 * rounds + 3, s"star components ran $starJobs jobs in $rounds rounds")
    // a 20-node path: 19 label-changing rounds and one that changes none;
    // the first round also builds the edge cache and the initial labels
    // (8 jobs), the component table after the last takes 2
    val labelJobs = jobsOf(TrainingOps.labelPropagationComponents(path(20)))
    assert(labelJobs == 124, s"label propagation ran $labelJobs jobs over 20 rounds")
  }

  test("x56: first-occurrence pick is a min-struct aggregate, not a hot-key window") {
    // a row_number window over the line fingerprint would funnel every
    // occurrence of a mega-frequent line (a boilerplate footer at corpus
    // scale) through ONE partition; the aggregate gets map-side combine
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s = graft.ops.TrainingOps.paragraphDedupPlan(docs)
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(!p.contains("Window"),
        s"first-occurrence selection must not use a window:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"the exploded line table must persist once and feed both the " +
          s"aggregate and the join-back:\n$p")
      // same tightening as the x48 pin: require the min itself
      assert(p.contains("partial_min"),
        s"expected a partial_min (map-side combinable) on the line key:\n$p")
    } finally s.release()
  }

  test("x48: first-occurrence pick is a min-struct aggregate, not a hot-gram window") {
    // a row_number window partitioned by the gram fingerprint would funnel
    // every corpus occurrence of one boilerplate 13-gram through ONE task
    // (VERDICT r04 what's-wrong #3); the aggregate gets map-side combine —
    // the same pin x56 carries for line fingerprints
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.ops.TrainingOps.repeatedDupWindows(docs, 13)
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Window"),
      s"x48 first-occurrence selection must not use a window:\n$p")
    // specifically the map-side-combinable MIN — an || partial_ fallback
    // would be satisfied by any unrelated partial aggregate in the plan
    assert(p.contains("partial_min"),
      s"expected a partial_min (map-side combinable) on the gram key:\n$p")
  }

  test("x59: edit-distance pipeline reads the cached text table, equi-joins only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val s = graft.ops.TrainingOps.editNearDupPairsPlan(docs)
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.contains("InMemoryTableScan"),
        s"expected the persisted norm/signature table behind bands + verify:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"the O(len²) DP must run only on band-bucketed candidates:\n$p")
    } finally s.release()
  }

  test("x64: cross-corpus band join reads both cached signature tables, no cross join") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = d.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(13L)) =!= 0)
    val ref = d.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(13L)) === 0)
    val s = graft.ops.TrainingOps.crossNearDupPlan(corpus, ref)
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"expected BOTH persisted signature tables behind the band join:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"x64 must stay an equi-join pipeline:\n$p")
    } finally s.release()
  }

  test("x56/x59: caches are released after the result materializes") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assertReleasedAfter(
      () => graft.ops.TrainingOps.paragraphDedup(docs),
      () => graft.ops.TrainingOps.editNearDupPairs(docs))
  }

  test("x19: decontamination broadcasts the benchmark gram set, never shuffles the corpus grams") {
    val p = plan("x19_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the corpus gram side must not shuffle for the semi-join:\n$p")
  }

  test("x20: hash sample is a pure pushed filter, no shuffle at all") {
    val p = plan("x20_hash_sample")
    // the only exchange allowed is the final presentation sort
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"sampling must not shuffle data:\n$p")
    assert(p.contains("Filter"), p)
  }

  test("x21: tf-idf joins document frequencies by broadcast") {
    val p = plan("x21_tfidf_top_terms")
    assert(p.contains("BroadcastHashJoin"),
      s"vocabulary-sized df table must broadcast back:\n$p")
  }

  test("x29: LSH ANN is top-M candidates (no global sort) joined by broadcast") {
    val p = plan("x29_ann_lsh")
    assert(p.contains("TakeOrderedAndProject"),
      s"Hamming top-M and final top-k must be TakeOrderedAndProject:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the M-row candidate set must broadcast into the verify join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x30: pack pass 2 windows PER BUCKET — no single-partition global window") {
    val s = graft.ops.TrainingOps.packSequencesPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.contains("Window"), p)
      assert(!p.contains("SinglePartition"),
        s"global prefix sum must not funnel through one partition:\n$p")
      assert(p.contains("hashpartitioning(bucket"),
        s"the running sum must partition by the bucket key:\n$p")
    } finally s.release()
  }

  test("x31: stratified sample pre-prunes per partition (WindowGroupLimit, partial + final)") {
    // with few strata the rank window has low key parallelism; the saving
    // grace at scale is Spark's group-limit pushdown: every INPUT
    // partition keeps only its own top-nPer per stratum before the
    // shuffle, so the per-stratum sort never sees the full stratum
    val p = plan("x31_stratified_sample")
    assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
      s"rn<=k must push a partial per-partition group limit:\n$p")
  }

  test("x32: one cached exploded-lines table feeds both the frequency agg and the join-back") {
    val s = graft.ops.TrainingOps.deboilerplatePlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      // each InMemoryTableScan prints its cached subtree, so the raw
      // FileScan text appears once PER branch — the single-materialization
      // pin is: both branches read InMemoryTableScans of the one
      // InMemoryRelation, and no FileScan exists outside a cached subtree
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"both branches must read the cached line table:\n$p")
      val plain = s.plan.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"no leaf may scan the corpus outside the cached line table:\n$p")
    } finally s.release()
  }

  test("x41: one cached post-cap fingerprint table feeds the self-join sides and size aggregates") {
    val s = graft.ops.TrainingOps.winnowContainmentPairsPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      // two self-join sides + two size-aggregate references — every one
      // must read the single cached fingerprint table, and nothing may
      // recompute the md5 stage from the corpus directly
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
        s"all fp references must read the cached table:\n$p")
      val plain = s.plan.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"no leaf may scan the corpus outside the cached fp table:\n$p")
    } finally s.release()
  }

  test("x41: the df-cap is a groupBy + anti-join, never a Window keyed on fp") {
    // VERDICT r05 what's-wrong #1: count().over(Window.partitionBy("fp"))
    // funneled every occurrence of a mega-frequent winnow fingerprint
    // through ONE WindowExec task to compute the very df that drops it,
    // and WindowExec partitions cannot be skew-split. The cap must stay a
    // map-side-combinable count + anti-join (the x48 window-free pin
    // template).
    val s = graft.ops.TrainingOps.winnowContainmentPairsPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      // optimizedPlan deliberately: it prints the cached (InMemoryRelation)
      // subtrees too, so the cap inside the kept table's build plan is
      // visible — the executed plan would only show InMemoryTableScans
      val p = s.plan.queryExecution.optimizedPlan.toString()
      assert(!p.contains("Window"),
        s"x41 df-cap must not run a window keyed on fp:\n$p")
      assert(p.contains("LeftAnti"),
        s"expected the over-cap fingerprints removed via an anti-join:\n$p")
    } finally s.release()
  }

  test("x79: one cached conversation-fingerprint table feeds the group agg and the join-back") {
    val s = graft.ops.TrainingOps.convDedupGroupsPlan(
      graft.Pipeline.turnsFromDocuments(spark, sfDir).toDF())
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"both the group aggregate and the probe must read the cached fp table:\n$p")
      val plain = s.plan.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"no leaf may recompute the conversation fingerprints from the corpus:\n$p")
    } finally s.release()
  }

  test("x80: one cached token-mass aggregate feeds the corpus total and the rate projection") {
    val s = graft.ops.TrainingOps.mixtureRatesPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
        s"both the total and the probe must read the cached per-source table:\n$p")
      val plain = s.plan.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"the tokenize scan must run once, inside the cached aggregate:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"the 1-row total must re-enter by broadcast:\n$p")
    } finally s.release()
  }

  test("x87: one cached (source, term) count table feeds all three references") {
    val s = graft.ops.TrainingOps.sourceKlDivergencePlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
        s"term counts, source totals, and probe must all read the cache:\n$p")
      val plain = s.plan.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"the tokenize scan must run once, inside the cached count table:\n$p")
    } finally s.release()
  }

  test("x88: one cached distinct (source, term) table feeds the sizes and both self-join sides") {
    val s = graft.ops.TrainingOps.sourceOverlapPlan(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 3,
        s"sizes and both self-join sides must read the cache:\n$p")
      val plain = s.plan.queryExecution.executedPlan.collectLeaves()
        .count(l => !l.toString().contains("InMemoryTableScan"))
      assert(plain == 0,
        s"the tokenize+distinct must run once, inside the cache:\n$p")
    } finally s.release()
  }

  test("x22/x23: as-of and range joins are equi-joins, never nested loops") {
    for (n <- Seq("x22_asof_join", "x23_range_join")) {
      val p = plan(n)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$n must not plan a nested loop:\n$p")
    }
    // the range join's interval predicate must be a post-filter over the
    // bucket equi-join, not a join condition forcing a nested loop
    val p = plan("x23_range_join")
    assert(p.contains("bkt"), s"expected the time-bucket equi key:\n$p")
  }

  test("x02: metrics never reads the fat text column") {
    val df = SparkEntry.queries("x02_extract_metrics")(spark, sfDir)
    // The extraction stage necessarily reads text, but the metrics
    // aggregation above it must operate on the narrow projection only.
    val agg = df.queryExecution.optimizedPlan.toString()
    assert(agg.contains("payload_kind"), agg)
  }

  test("extraction plan has no shuffle when partitioning is inherited") {
    val turns = Pipeline.turnsFromDocuments(spark, sfDir)
    val p = Pipeline.extractTurns(turns).toDF().queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), s"no-repartition path must not shuffle:\n$p")
  }

  test("extraction plan with salting has exactly one exchange") {
    val turns = Pipeline.turnsFromDocuments(spark, sfDir)
    val p = Pipeline.extractTurns(turns, 8).toDF().queryExecution.executedPlan.toString()
    assert(p.contains("Exchange"), s"salted path should repartition once:\n$p")
    val n = p.linesIterator.count(_.trim.startsWith("+- Exchange")) +
      p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(n <= 1, s"expected exactly one Exchange, got $n:\n$p")
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    // the 100 TB lever for repeated equi-joins on the same key (results
    // joined back to signatures/goldens by doc key): bucket both sides
    // at write time and the join needs no shuffle at all.
    // default warehouse = ./spark-warehouse (gitignored); stale dirs from
    // a previous in-memory catalog survive the DROP, so clear them too
    spark.sql("DROP TABLE IF EXISTS b_docs")
    spark.sql("DROP TABLE IF EXISTS b_stats")
    for (t <- Seq("b_docs", "b_stats")) {
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select("doc_id", "text")
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_docs")
    docs.selectExpr("doc_id", "length(text) AS n_chars")
      .write.bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable("b_stats")
    // force the sort-merge path (tiny test tables would auto-broadcast,
    // which hides the bucketing guarantee this asserts)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_docs").join(spark.table("b_stats"), "doc_id")
      val p = joined.queryExecution.executedPlan.toString()
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(joined.count() == docs.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("resume anti-join keeps only un-extracted keys") {
    val ss = spark
    import ss.implicits._
    val turns = Pipeline.turnsFromDocuments(spark, sfDir).limit(20)
    val out = java.nio.file.Files.createTempDirectory("graft-resume").toString
    Pipeline.writeResults(Pipeline.extractTurns(turns), out)
    val all = Pipeline.turnsFromDocuments(spark, sfDir).limit(40)
    val remaining = Pipeline.resume(spark, all, out)
    val done = spark.read.parquet(s"$out/results").select("conv_id", "turn_idx").as[(String, Int)].collect().toSet
    val rem = remaining.collect().map(t => (t.conv_id, t.turn_idx)).toSet
    assert(rem.intersect(done).isEmpty, "resume must exclude committed keys")
    assert(rem.size == 40 - done.size, s"expected ${40 - done.size} remaining, got ${rem.size}")
    // lineage rows exist and row counts reconcile
    val lineageN = spark.read.parquet(s"$out/lineage").selectExpr("sum(n_rows)").head().getLong(0)
    assert(lineageN == done.size.toLong, s"lineage rows $lineageN != results ${done.size}")
    // the append shares the sink's coalesce: the recomputed metrics cover
    // the whole committed table, the rolling table one row per key
    Pipeline.appendResults(Pipeline.extractTurns(remaining), out)
    val keys = spark.read.parquet(s"$out/results").select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == 40 && keys.distinct.length == 40, s"expected 40 unique keys, got ${keys.length}")
    val metricsN = spark.read.parquet(s"$out/metrics").selectExpr("sum(n_turns)").head().getLong(0)
    assert(metricsN == keys.length.toLong, s"metrics n_turns $metricsN != committed ${keys.length}")
    val rolling = spark.read.parquet(s"$out/metrics_rolling").select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(rolling.length == keys.length && rolling.toSet == keys.toSet,
      s"metrics_rolling has ${rolling.length} rows (${rolling.toSet.size} keys), not one per committed key")
  }

  test("resume treats a _temporary-only results dir as a fresh run (first-write SIGKILL)") {
    // a job killed during its FIRST write leaves results/ holding only
    // the uncommitted _temporary — resume must process everything, not
    // die on parquet schema inference over zero committed files
    // (ADVICE r02); the subsequent append completes to exactly-once.
    val ss = spark
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-firstkill").toString
    assert(new java.io.File(s"$out/results/_temporary/0/task_dead/").mkdirs())
    val all = Pipeline.turnsFromDocuments(spark, sfDir).limit(25)
    val remaining = Pipeline.resume(spark, all, out)
    assert(remaining.count() == 25, "resume over an uncommitted-only dir must be a fresh run")
    Pipeline.appendResults(Pipeline.extractTurns(remaining), out)
    val keys = spark.read.parquet(s"$out/results")
      .select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == 25 && keys.distinct.length == 25,
      s"expected 25 unique keys, got ${keys.length}/${keys.distinct.length}")
    // and the dead attempt's dir is gone (purged before the append commit)
    assert(!new java.io.File(s"$out/results/_temporary/0/task_dead").exists())
  }

  test("resume append purges a dead attempt's _temporary task outputs") {
    val ss = spark
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-stale").toString
    val first20 = Pipeline.turnsFromDocuments(spark, sfDir).limit(20)
    Pipeline.writeResults(Pipeline.extractTurns(first20), out)
    // plant a dead job's committed-task output where the next append's
    // v1 committer would sweep it into the commit
    val stale = new java.io.File(s"$out/results/_temporary/0/task_202608160000_0007_m_000000")
    assert(stale.mkdirs())
    val donor = new java.io.File(s"$out/results").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(stale, donor.getName.replace("part-00000", "part-00999")).toPath)
    val all40 = Pipeline.turnsFromDocuments(spark, sfDir).limit(40)
    val remaining = Pipeline.resume(spark, all40, out)
    Pipeline.appendResults(Pipeline.extractTurns(remaining), out)
    val keys = spark.read.parquet(s"$out/results")
      .select("conv_id", "turn_idx").as[(String, Int)].collect()
    assert(keys.length == 40, s"stale attempt leaked: ${keys.length} rows, expected 40")
    assert(keys.distinct.length == 40, "duplicate keys after resume")
  }

  /** 40 turns from `parts` explicit round-robin partitions, extracted and
    * written through `writeResults`; returns the output dir. */
  private def sinkWrite(turns: Seq[graft.model.Turn], parts: Int): String = {
    val ss = spark
    import ss.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    Pipeline.writeResults(Pipeline.extractTurns(spark.createDataset(turns).repartition(parts)), out)
    out
  }

  private def sinkTurns(): Seq[graft.model.Turn] =
    Pipeline.turnsFromDocuments(spark, sfDir).orderBy("conv_id", "turn_idx").limit(40).collect().toSeq

  /** Jobs one `sinkWrite` runs: the input's repartition stage, the
    * results and lineage writes, the read-back's schema inference, and a
    * shuffle stage plus a write each for metrics and metrics_rolling. */
  private val SinkJobs = 8

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).list().toSeq.filter(n => n.startsWith("part-") && n.endsWith(".parquet"))

  test("the sink merges sub-4 MiB partitions into at most one wave of write tasks") {
    val turns = sinkTurns()
    val dp = spark.sparkContext.defaultParallelism
    val spread = sinkWrite(turns, 4 * dp)
    val files = partFiles(s"$spread/results")
    assert(files.length <= dp, s"${4 * dp} small partitions wrote ${files.length} part files, expected at most $dp")
    val lineage = spark.read.parquet(s"$spread/lineage").select("n_rows").collect().map(_.getLong(0))
    assert(lineage.length == files.length, s"${lineage.length} lineage rows for ${files.length} files")
    assert(lineage.sum == 40L, s"lineage n_rows sum ${lineage.sum}, expected 40")
    // merging slices changes no committed table: same schema, same rows
    // both ways, as a write of the same turns from one partition
    val single = sinkWrite(turns, 1)
    assert(partFiles(s"$single/results").length == 1, "a 1-partition input must write one file")
    for (t <- Seq("results", "metrics", "metrics_rolling")) {
      val a = spark.read.parquet(s"$spread/$t")
      val b = spark.read.parquet(s"$single/$t")
      assert(a.schema == b.schema, s"$t schema differs:\n${a.schema.treeString}\n${b.schema.treeString}")
      // Row equality compares the map columns by value (exceptAll rejects them)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      val (ra, rb) = (rows(a), rows(b))
      assert(ra == rb, s"$t differs: ${(ra.keySet -- rb.keySet).take(2)} / ${(rb.keySet -- ra.keySet).take(2)}")
    }
  }

  test("sink sizing runs no Spark job: one writeResults runs the same jobs as before") {
    val turns = sinkTurns()
    val dp = spark.sparkContext.defaultParallelism
    val jobs = jobsOf(sinkWrite(turns, 4 * dp))
    assert(jobs == SinkJobs, s"one writeResults ran $jobs jobs, expected $SinkJobs")
  }

  test("salting spreads a hot conversation across partitions") {
    val ss = spark
    import ss.implicits._
    import org.apache.spark.sql.functions._
    // corpus has one deliberately hot conversation (100 turns; FIXTURES §2)
    val corpus = new GoldenParitySpec().corpus
    val hot = corpus.groupBy(_.conv_id).maxBy(_._2.size)._1
    val ds = spark.createDataset(corpus)
      .repartition(8, col("conv_id"), pmod(hash(col("turn_idx")), lit(Pipeline.Salt)))
    val partsForHot = ds.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map(t => (pid, t.conv_id))
    }.filter(_._2 == hot).map(_._1).distinct().collect()
    assert(partsForHot.length >= 4,
      s"hot conversation $hot should spread over >=4 of 8 partitions, got ${partsForHot.length}")
  }

  test("Spark pipeline output equals the pure-function goldens (engine-level parity)") {
    val ss = spark
    import ss.implicits._
    // run the committed corpus through the DISTRIBUTED path and compare
    // a sample of turns against Extractor.extract run locally.
    val corpus = new GoldenParitySpec().corpus
    val ds = spark.createDataset(corpus)
    val distributed = Pipeline.extractTurns(ds, 8).collect()
    val local = corpus.map(Extractor.extract)
    val dMap = distributed.map(r => ((r.conv_id, r.turn_idx), r)).toMap
    for (l <- local) {
      val d = dMap((l.conv_id, l.turn_idx))
      assert(d.text == l.text && d.summary == l.summary && d.status == l.status,
        s"distributed != local for ${l.conv_id}/${l.turn_idx}")
    }
  }

  // --- round-4: x21 TF-IDF scale shape (VERDICT r03 next #2) ---------------

  test("x21: plan construction is lazy — no corpus-count action, N is an in-plan zero-column aggregate") {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a bare spark.read.parquet runs a schema-inference/listing job of
      // its own, which is not what this spec polices. Warm that path
      // once (unmeasured), then measure a SECOND bare read — the exact
      // job cost of the one read the query builder performs in the same
      // warm state. Any action the builder adds (the old eager
      // docs.count()) then strictly exceeds the baseline.
      spark.read.parquet(s"$sfDir/documents.parquet")
      Thread.sleep(500)
      val jobs0 = jobs
      spark.read.parquet(s"$sfDir/documents.parquet")
      Thread.sleep(500)
      val baseline = jobs - jobs0
      val jobs1 = jobs
      val df = SparkEntry.queries("x21_tfidf_top_terms")(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString()
      // Listener delivery is async; a count() would have completed
      // synchronously above, so a short drain window suffices.
      Thread.sleep(500)
      val built = jobs - jobs1
      assert(built <= baseline,
        s"building the TF-IDF plan ran $built job(s) where a bare warm read runs " +
          s"$baseline — the separate corpus-count action is back")
      // N rides the same job as a 1-row aggregate whose scan reads ZERO
      // data columns (count-only pruning)
      assert(p.contains("struct<>"),
        s"expected a zero-column count scan feeding N:\n$p")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("x21: correct under either document-frequency join strategy (no forced broadcast)") {
    // dfreq is vocabulary-sized: broadcastable on clean prose, NOT on a
    // web-scale vocabulary of typo/numeric tokens — so the operator
    // leaves the strategy to AQE and must be right both ways.
    def run() = SparkEntry.queries("x21_tfidf_top_terms")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val auto = run()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("x21_tfidf_top_terms")(spark, sfDir)
      val p = df.queryExecution.executedPlan.toString()
      // the 1-row N cross-join stays an explicit broadcast (fine at any
      // scale); the dfreq join must become a shuffled equi-join, never
      // a cartesian
      assert(!p.contains("CartesianProduct"), s"no cartesian allowed:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"with broadcast off the dfreq join must shuffle:\n$p")
      assert(run() == auto, "shuffled-join results differ from broadcast-join results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // --- round-4: x39 Bloom decontamination (the no-broadcast regime) --------

  test("x39: Bloom sketch prefilters the corpus map-side; exact verify join works shuffled; result == x19") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // the regime this variant exists for: benchmark grams too big to
    // broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = graft.ops.TrainingOps.decontaminateBloomPlan(docs, bench)
      try {
        val p = s.plan.queryExecution.executedPlan.toString()
        assert(p.contains("might_contain"),
          s"expected the native Bloom probe on the corpus gram side:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
          s"verify join must stay an equi-join:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"with broadcast off the verify join must shuffle:\n$p")
        val got = s.plan.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = graft.ops.TrainingOps.decontaminate(docs, bench)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == exact,
          s"Bloom variant must be exact: extra=${(got -- exact).take(3)} missing=${(exact -- got).take(3)}")
        assert(exact.nonEmpty, "decontamination fixture must produce hits")
      } finally s.release()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x53: hashed quality scorer is map-only — no Generate, only the presentation sort shuffles") {
    val p = plan("x53_hashed_quality")
    assert(!p.contains("Generate"),
      s"bigram scoring must stay a per-row higher-order projection, not an explode:\n$p")
    // rangepartitioning for the deterministic-oracle orderBy is the
    // single allowed exchange; a real sink drops it entirely
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"scorer must not shuffle data:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no aggregation/join shuffle in a map-only op:\n$p")
  }

  test("x95: per-anchor top-k pushes a partial group limit; buckets equi-join off one cache") {
    val s = graft.ops.TrainingOps.hardNegativesPlan(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(p.linesIterator.count(_.contains("WindowGroupLimit")) >= 2,
        s"rk<=k must push a partial per-partition group limit:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"bucket candidates must come from an equi-join:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"both bucket-join sides must read the one cached key table:\n$p")
    } finally s.release()
  }

  test("x94: decontamination candidates are corpus x bench band pairs, never a corpus self-join") {
    val s = graft.ops.TrainingOps.semanticDecontaminatePlan(
      SparkEntry.clusteredEmbeddings(spark, sfDir))
    try {
      val p = s.plan.queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"band candidates must come from an equi-join:\n$p")
      assert(p.contains("pmod"),
        s"the bench/corpus periodic split must gate both band sides:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"both band sides must read the one cached signature table:\n$p")
    } finally s.release()
  }

  test("x96: fence and stats aggregates re-enter by broadcast") {
    val p = plan("x96_winsorize_scores")
    assert(p.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s"both tiny per-source aggregates must broadcast back:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x98: epoch-shard assignment is map-only — the presentation sort is the only exchange") {
    val p = plan("x98_epoch_shards")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no aggregation/join shuffle in a map-only assignment:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the deterministic-oracle sort may shuffle:\n$p")
  }

  test("x101: the Gopher rule bundle is one map-only projection") {
    val p = plan("x101_gopher_rules")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Join"),
      s"flag rules must not shuffle or join:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the presentation sort may shuffle:\n$p")
  }

  test("x105: coverage shuffles only the two bounded aggregates") {
    // one corpus-wide term aggregate + one ≤64-row bucket aggregate; the
    // running sum then rides a bounded single-partition window by design
    val p = plan("x105_vocab_coverage")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 2, s"only term + bucket aggregates may hash-shuffle:\n$p")
  }

  test("x107: the resample top-k is a TakeOrderedAndProject, never a global sort") {
    val p = plan("x107_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must not materialize a full sort:\n$p")
  }

  test("x14 round: the persisted edge list is not re-exchanged per label-prop round") {
    // Round-6: labelPropagationComponents persists its edge list
    // PRE-PARTITIONED on the probe key (id_b), so every round's
    // neighbor join reads the cache layout instead of re-shuffling the
    // edge-scale frame per round (the one-time build exchange lives
    // inside the InMemoryRelation). Checked under the shuffle-join
    // regime — at bench scale the join would broadcast and hide the
    // shape this spec pins.
    import org.apache.spark.sql.functions._
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    val pairs = spark.range(0, 64).selectExpr("id AS id_a", "id + 1 AS id_b")
    val edges = graft.ops.TrainingOps.labelPropEdges(pairs).persist()
    try {
      edges.count()
      val labels = edges.selectExpr("id_a AS id").distinct()
        .withColumn("comp", col("id")).localCheckpoint(true)
      val p = graft.ops.TrainingOps.labelPropRoundPlan(edges, labels)
        .queryExecution.executedPlan.toString
      val lines = p.linesIterator.toSeq
      val reExchanged = lines.zipWithIndex.exists { case (l, i) =>
        l.contains("Exchange") && i + 1 < lines.length &&
          lines(i + 1).contains("InMemoryTableScan")
      }
      assert(!reExchanged,
        s"cached edge list re-exchanged inside the round (per-round edge shuffle):\n$p")
      assert(p.contains("InMemoryTableScan"), s"round must read the edge cache:\n$p")
    } finally {
      edges.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("loop repartitions carry an explicit partition count (never AQE-coalesced to one)") {
    // A by-column repartition (REPARTITION_BY_COL) is advisory: AQE may
    // coalesce it to a single partition on a small round. The star
    // round and the label-prop edge list fix their count instead.
    val edges = spark.range(0, 64).selectExpr("id AS u", "id + 1 AS v").localCheckpoint(true)
    val pairs = spark.range(0, 64).selectExpr("id AS id_a", "id + 1 AS id_b")
    for ((what, df) <- Seq(
        "star round" -> graft.ops.TrainingOps.starRoundPlan(edges),
        "label-prop edge list" -> graft.ops.TrainingOps.labelPropEdges(pairs))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("REPARTITION_BY_NUM"), s"$what: no fixed-count repartition:\n$p")
      assert(!p.contains("REPARTITION_BY_COL"), s"$what: advisory repartition:\n$p")
    }
  }

  test("SparkEntry.entry: one successful row per document, ordered by (conv_id, turn_idx)") {
    val rows = SparkEntry.entry(spark).collect()
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(rows.length == nDocs)
    val keys = rows.map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"))).toSeq
    assert(keys == keys.sorted, "entry rows out of (conv_id, turn_idx) order")
    assert(keys.distinct.length == keys.length, "duplicate (conv_id, turn_idx) keys")
    assert(!rows.exists(_.getAs[String]("status") == "error"))
  }

  test("x110 core: the Generate barriers keep the md5 shingle chain computed once") {
    // the stateless core cannot persist (it must run as a streaming
    // plan), so its shingle/hash arrays are pinned behind explode-of-one
    // Generates — if CollapseProject ever re-inlines them, the 8 minhash
    // columns each re-derive the per-shingle md5 chain (the 45.7 s
    // regression this spec pins out). Counted on the OPTIMIZED plan:
    // re-inlining multiplies the per-shingle-hash pattern ~8×.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(pmod(col("doc_id"), lit(13L)) =!= 0)
    val ref = docs.filter(pmod(col("doc_id"), lit(13L)) === 0)
    val r = graft.ops.TrainingOps.ingestRefTables(ref)
    try {
      val pFull = graft.ops.TrainingOps
        .ingestCurateCore(corpus, r.fp, r.buckets, 0.8)
        .queryExecution.optimizedPlan.toString
      // Scope the count to the STREAMING CORE's own operators (ADVICE
      // r05): toString prints the persisted ref tables' cached subtrees
      // under each InMemoryRelation, and those legitimately contain the
      // build-time md5 chain — counting them would couple this spec to
      // the ref-side plan shape. Prune every line indented below an
      // InMemoryRelation before counting.
      val p = {
        val out = scala.collection.mutable.Buffer[String]()
        var skipIndent = -1
        for (l <- pFull.linesIterator) {
          val indent = math.max(l.indexWhere(c => !" +-:".contains(c)), 0)
          if (skipIndent >= 0 && indent > skipIndent) ()
          else if (l.contains("InMemoryRelation")) { skipIndent = indent; out += l }
          else { skipIndent = -1; out += l }
        }
        out.mkString("\n")
      }
      assert(p.linesIterator.count(_.contains("Generate explode")) >= 2,
        s"the shingle and hash barriers must survive optimization:\n${p.take(4000)}")
      val shingleHashes = "conv\\(substring\\(md5".r.findAllIn(p).length
      assert(shingleHashes <= 5,
        s"per-shingle md5 chain inlined $shingleHashes times — barrier lost")
    } finally r.release()
  }

  test("a job failing while a plan is built or materialized releases what it staged") {
    // x30's pass 1, x39's sketch sizing and x110's bucket-occupancy
    // count run jobs over their caches before the plan exists;
    // Staged.materialize runs the result job.
    // Each fails here on one poisoned row and must leave no cache behind
    // (a caller that catches the failure keeps the session).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftshim.CacheProbe.cachedEntries
    import graft.ops.TrainingOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val poisonId = docs.agg(min("doc_id")).head().getLong(0)
    val poison = udf((id: Long, t: String) =>
      if (id == poisonId) throw new IllegalStateException("poisoned row") else t)
    val bad = docs.withColumn("text", poison(col("doc_id"), col("text")))
    def persisted(): Int = spark.sparkContext.getPersistentRDDs.size
    def assertReleased(what: String)(run: => Any): Unit = {
      val before = persisted()
      val cachedBefore = cachedEntries(spark)
      intercept[Exception](run)
      // a cache whose build job failed holds no blocks but stays cached
      assert(cachedEntries(spark) == cachedBefore,
        s"$what: ${cachedEntries(spark) - cachedBefore} cached frames left after the failed job")
      // poll: the failed checkpoint's own RDD goes with ContextCleaner GC
      val deadline = System.nanoTime() + 10000000000L
      while (persisted() > before && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(100)
      }
      assert(persisted() <= before,
        s"$what: ${persisted() - before} persisted RDDs left after the failed job")
    }
    assertReleased("packSequences")(TrainingOps.packSequences(bad))
    assertReleased("decontaminateBloom")(TrainingOps.decontaminateBloom(docs, bad))
    // the poisoned row (the smallest doc_id, 0 mod 13) is on the reference side
    assertReleased("ingestCurate")(TrainingOps.ingestCurate(bad))
    assertReleased("Staged.materialize")(
      TrainingOps.Staged.persisted(bad).map(_.select("doc_id", "text")).materialize())
  }

  test("DumpPlans.lazyPlans: every entry's release frees every cache and checkpoint it made") {
    import org.apache.spark.sql.graftshim.CacheProbe.cachedEntries
    val sc = spark.sparkContext
    for (p <- graft.tools.DumpPlans.lazyPlans(spark, sfDir)) {
      val rddsBefore = sc.getPersistentRDDs.keySet.toSet
      val cachedBefore = cachedEntries(spark)
      val staged = p.build()
      try assert(staged.plan.queryExecution.executedPlan.toString().nonEmpty)
      finally staged.release()
      val left = sc.getPersistentRDDs.keySet.toSet -- rddsBefore
      assert(left.isEmpty, s"${p.queries.head}: ${left.size} persisted RDDs left after release")
      assert(cachedEntries(spark) == cachedBefore,
        s"${p.queries.head}: ${cachedEntries(spark) - cachedBefore} cached frames left after release")
    }
  }
}
