package bdtbench

import graft.Cluster
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload: seeded inputs, repeated set-up rounds, a timed
  * closed loop of `--seconds`, the correctness checks, then one JSON line
  * on stdout — the end-to-end metrics, or with `--trace 1` the per-layer
  * ones. Everything else goes to stderr.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <scratch dir> [--spans <file>]
  */
object Main {
  val SetupRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, spans: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.get("spans"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    val line = run(a)
    System.out.println(line)
    System.out.flush()
  }

  private def now: Double = System.nanoTime() / 1e9

  def run(a: Args): String = {
    val w = Workload(a.workload, a.seed)
    val nodes = math.min(4, Runtime.getRuntime.availableProcessors())
    val inputs = s"${a.work}/inputs"
    var spark: SparkSession = null
    val rounds = mutable.ArrayBuffer[Map[String, Double]]()
    var genS = 0.0

    // ------------------------------------------------------- set-up rounds
    // Each round opens a fresh session, loads the inputs and builds the
    // workload's state. Only the last round, whose session the loop uses,
    // warms up (JIT, codegen, page cache, the session's own first-use
    // costs); set-up time is the median round plus that warm-up.
    for (r <- 0 until SetupRounds) {
      val roundDir = s"${a.work}/round$r"
      val t0 = now
      spark = Cluster.open(nodes, "bdtbench", extraConf = Map(
        "spark.sql.warehouse.dir" -> s"$roundDir/warehouse",
        "spark.local.dir" -> s"${a.work}/local"))
      val tOpen = now
      if (r == 0) {
        w.makeInputs(spark, inputs)
        genS = now - tOpen
      }
      val t1 = now
      w.load(spark, inputs)
      val t2 = now
      w.build(spark, roundDir)
      val t3 = now
      if (r == SetupRounds - 1) w.warmup(spark)
      val t4 = now
      val phases = Map("cluster.open_s" -> (tOpen - t0), "tables.load_s" -> (t2 - t1),
        "index.build_s" -> (t3 - t2), "warmup_s" -> (t4 - t3))
      rounds += phases
      System.err.println(f"[bdtbench] setup round $r: $phases")
      if (r < SetupRounds - 1) {
        w.stopRound()
        spark.stop()
        deleteTree(roundDir)
      }
    }

    // ---------------------------------------------------------- timed loop
    val sc = spark.sparkContext
    val tracer = new Tracer
    tracer.sc = sc
    val probes = new Probes(new JobProbe, new PlanProbe)
    val clock = new Clock(a.trace, w, spark, tracer, probes)
    val rddsBefore = sc.getPersistentRDDs.size
    var failed = 0
    var ops = 0
    val t0 = now
    while (now - t0 < a.seconds || !w.enough(ops)) {
      val errs =
        try w.step(ops, clock)
        catch { case e: Exception => Seq(s"operation $ops threw $e") }
      if (errs.nonEmpty) {
        failed += 1
        errs.take(3).foreach(e => System.err.println(s"[bdtbench] FAIL $e"))
      }
      ops += 1
    }
    val loopWall = now - t0
    val liveHeapMb = liveHeapAfterGcMb

    // -------------------------------------------------------------- checks
    val tFinish = now
    val endErrs =
      try w.finish(spark)
      catch { case e: Exception => Seq(s"end checks threw $e") }
    endErrs.take(5).foreach(e => System.err.println(s"[bdtbench] FAIL $e"))
    val finishS = now - tFinish
    val leaked = sc.getPersistentRDDs.size - rddsBefore
    val selfTimes = tracer.selfTimes
    val spans = tracer.all
    val roots = spans.filter(_.name == "op")
    val wall = roots.map(s => s.end - s.start).sum / 1e9
    val selfSum = selfTimes.values.sum / 1e9
    val extraErrs = Seq(
      if (leaked != 0) Some(s"$leaked cached RDDs leaked") else None,
      if (a.trace && math.abs(selfSum - wall) > 1e-3)
        Some(f"span self times sum to $selfSum%.6f s, traced wall is $wall%.6f s") else None
    ).flatten
    extraErrs.foreach(e => System.err.println(s"[bdtbench] FAIL $e"))
    // the leak check, and in a traced run the span-sum check, are attempts too
    val attempted = ops + w.endChecks + (if (a.trace) 2 else 1)
    val failedAll = failed + endErrs.size + extraErrs.size
    a.spans.foreach(p => tracer.dump(java.nio.file.Paths.get(p)))

    // ------------------------------------------------------------- metrics
    val e2e = w.endToEnd(clock, loopWall)
    System.err.println(f"[bdtbench] ${a.workload} seed ${a.seed}: inputs $genS%.2f s, end checks $finishS%.2f s, " +
      f"$ops ops in $loopWall%.2f s, " +
      f"failed $failedAll/$attempted, p50 ${e2e.opP50Ms}%.2f ms, tail p${e2e.tailQ * 100}%.1f of " +
      s"${e2e.samples} samples = ${e2e.opTailMs} ms")
    System.err.println("[bdtbench] samples ms: " + clock.samples.map(x =>
      f"${x.kind}%s${if (x.traced) "*" else ""}%s=${x.ns / 1e6}%.0f").mkString(" "))
    val setupMedian = (k: String) => Stats.median(rounds.map(_(k)).toSeq)
    val warmupS = rounds.last("warmup_s")
    val setupS = Stats.median(rounds.map(r => r.values.sum - r("warmup_s")).toSeq) + warmupS
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", e2e.opP50Ms, "ms"),
        ("work_per_s", e2e.workPerS, "1/s"),
        ("heap_live_mb", liveHeapMb, "MB"),
        ("ok_ratio", 1.0 - failedAll.toDouble / attempted, "ratio"))
      else {
        def spanS(p: String => Boolean) = spans.filter(s => p(s.name)).map(s => s.end - s.start).sum / 1e9
        def selfS(name: String) = spans.filter(_.name == name).map(s => selfTimes(s.id)).sum / 1e9
        val jp = probes.jobs
        val pp = probes.plans
        val c = w.counters
        val traced = clock.ms(w.headline, traced = true)
        val untraced = clock.ms(w.headline, traced = false)
        val replays = clock.ms(_ == "replay", traced = true) ++ clock.ms(_ == "replay", traced = false)
        val busy = jp.busyMs / 1e3
        Seq(
          ("cluster.open_s", setupMedian("cluster.open_s"), "s"),
          ("tables.load_s", setupMedian("tables.load_s"), "s"),
          ("index.build_s", setupMedian("index.build_s"), "s"),
          ("warmup_s", warmupS, "s"),
          ("input.gen_s", genS, "s"),
          ("bdt.calls", spans.count(_.name.startsWith("bdt.")).toDouble, "count")) ++
          BdtQuery.Kinds.map(k => (s"bdt.${k}_s", spanS(_ == s"bdt.$k"), "s")) ++ Seq(
          ("dedup.passes", c("dedup.passes"), "count"),
          ("dedup.exact_s", spanS(_ == "dedup.exact"), "s"),
          ("dedup.minhash_s", spanS(_ == "dedup.minhash"), "s"),
          ("dedup.simhash_s", spanS(_ == "dedup.simhash"), "s"),
          ("dedup.pairs", c("dedup.pairs"), "count"),
          ("fold.minhash_s", spanS(_ == "fold.minhash"), "s"),
          ("fold.ivfsq8_s", spanS(_ == "fold.ivfsq8"), "s"),
          ("fold.replay_s", spanS(_ == "fold.replay"), "s"),
          ("fold.pairs_emitted", c("fold.pairs_emitted"), "count"),
          ("fold.admitted_rows", c("fold.admitted_rows"), "count"),
          ("fold.replay_rows_emitted", c("fold.replay_rows_emitted"), "count"),
          ("sink.write_s", spanS(_ == "sink.write"), "s"),
          ("sink.commits", c("sink.commits"), "count"),
          ("sink.skipped", c("sink.skipped"), "count"),
          ("sink.commit_ratio", ratio(c("sink.commits"), c("sink.commits") + c("sink.skipped")), "ratio"),
          ("stream.batches", c("stream.batches"), "count"),
          ("stream.replays", c("stream.replays"), "count"),
          ("stream.self_s", selfS("stream.batch"), "s"),
          ("stream.replay_commit_p50_ms", if (replays.isEmpty) 0.0 else Stats.median(replays), "ms"),
          ("plan.executions", pp.executions.toDouble, "count"),
          ("plan.analysis_s", pp.analysisMs / 1e3, "s"),
          ("plan.optimization_s", pp.optimizationMs / 1e3, "s"),
          ("plan.planning_s", pp.planningMs / 1e3, "s"),
          ("spark.jobs", jp.jobs.size.toDouble, "count"),
          ("spark.jobs_unattributed", jp.jobs.values.count(_.span == 0).toDouble, "count"),
          ("spark.job_busy_s", busy, "s"),
          ("spark.driver_gap_s", wall - busy, "s"),
          ("spark.stages", jp.stages.toDouble, "count"),
          ("spark.tasks", jp.tasks.toDouble, "count"),
          ("spark.tasks_failed", jp.tasksFailed.toDouble, "count"),
          ("spark.sched_delay_s", jp.schedDelayMs / 1e3, "s"),
          ("spark.task_cpu_s", jp.cpuNs / 1e9, "s"),
          ("spark.shuffle_read_bytes", jp.shuffleRead.toDouble, "bytes"),
          ("spark.shuffle_write_bytes", jp.shuffleWrite.toDouble, "bytes"),
          ("spark.spill_bytes", jp.spill.toDouble, "bytes"),
          ("spark.input_bytes", jp.input.toDouble, "bytes"),
          ("spark.output_bytes", jp.output.toDouble, "bytes"),
          ("spark.output_files", clock.filesWritten.toDouble, "count"),
          ("jvm.gc_s", clock.gcMs / 1e3, "s"),
          ("jvm.rss_peak_mb", rssPeakMb, "MB"),
          ("cache.leaked_rdds", leaked.toDouble, "count"),
          ("trace.ops", roots.size.toDouble, "count"),
          ("trace.wall_s", wall, "s"),
          ("trace.self_sum_s", selfSum, "s"),
          ("trace.unattributed_s", selfS("op"), "s"),
          ("trace_overhead_frac",
            if (traced.isEmpty || untraced.isEmpty) 0.0 else Stats.median(traced) / Stats.median(untraced) - 1.0,
            "ratio"),
          ("fail_ratio", failedAll.toDouble / attempted, "ratio"),
          ("op.tail_ms", e2e.opTailMs, "ms"),
          ("op.tail_pct", e2e.tailQ * 100, "pct"),
          ("op.samples", e2e.samples.toDouble, "count"))
      }
    w.stopRound()
    spark.stop()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failedAll == 0}, "attempted": $attempted, "failed": $failedAll, "metrics": {$body}}"""
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Heap still reachable once the loop is done: what the engine and the
    * workload's state retain, measured after a full collection.
    */
  def liveHeapAfterGcMb: Double = {
    // the first collection enqueues Spark's weakly held RDDs, shuffles and
    // broadcasts; its context cleaner frees them before the second
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def rssPeakMb: Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
