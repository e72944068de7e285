package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** Benchmark entry point: one workload per process.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Set-up (session start, input generation, one warm-up operation on a tenth
  * of the input) runs `SetupReps` times, each with a fresh session; `setup_s`
  * is their median. After one more untimed operation at full size, the timed
  * phase runs the workload's operations for `seconds`, and the output checks
  * run on what it wrote. With `--trace 1` a second, traced
  * set-up and timed phase follow, with spans around the calls into the
  * program, a listener and codegen/JVM snapshots; that run reports the
  * per-layer metrics and the tracing overhead instead of the end-to-end ones.
  *
  * The last stdout line starting with `ResultPrefix` carries the JSON result.
  */
object Main {
  val SetupReps = 3
  val ResultPrefix = "PERFBENCH_RESULT "

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "1/s",
    "task_latency_p50_ms" -> "ms",
    "task_latency_p75_ms" -> "ms")

  val PerLayer: Seq[(String, String)] =
    Seq("config.parse_ms" -> "ms", "gen.plan_ms" -> "ms", "gen.frame_ms" -> "ms") ++
      Configs.GenColumns.map(c => s"gen.col_ns_per_row.$c" -> "ns") ++
      Seq("engine.preflight_ms" -> "ms", "engine.write_ms.customers" -> "ms", "engine.write_ms.orders" -> "ms",
        "engine.backup_ms" -> "ms", "engine.files" -> "count", "engine.bytes" -> "bytes",
        "engine.bytes_per_row" -> "bytes",
        "server.submit_ms" -> "ms", "server.status_ms" -> "ms", "server.polls_per_task" -> "count",
        "server.queue_wait_ms" -> "ms", "server.run_ms" -> "ms", "server.failed_tasks" -> "count") ++
      Configs.CurationSteps.map(op => s"operators.step_ms.$op" -> "ms") ++
      Seq("operators.kept_rows" -> "count",
        "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
        "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.task_skew" -> "ratio",
        "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
        "jvm.gc_ms" -> "ms", "jvm.cpu_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
        "trace.spans" -> "count") ++
      EndToEnd.map { case (n, u) => s"trace.overhead.$n" -> u }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try run(opts("workload"), opts("seed").toLong, opts("seconds").toDouble, opts("trace") == "1",
        Path.of(opts.getOrElse("work", ".")).toAbsolutePath)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code) // the task server's worker pools are not daemon threads
  }

  private def session(work: Path): SparkSession =
    SparkSession.builder().master("local[4]").appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()

  private def endToEnd(setupS: Double, p: Phase): Map[String, Double] = Map(
    "setup_s" -> setupS,
    "rows_per_s" -> p.rows / p.busyS,
    "task_latency_p50_ms" -> Stats.percentile(p.latenciesMs, 50),
    "task_latency_p75_ms" -> Stats.percentile(p.latenciesMs, 75))

  private def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, String)],
      values: Map[String, Double]): String =
    metrics.map { case (n, u) => s""""$n": {"value": ${Stats.num(values(n))}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")

  private def report(workload: String, phase: String, p: Phase, e2e: Map[String, Double]): Unit = {
    EndToEnd.foreach { case (n, u) =>
      val samples = n match {
        case "setup_s" => SetupReps
        case "rows_per_s" => p.attempted
        case _ => p.succeeded
      }
      println(f"$workload%-12s $phase%-8s $n%-20s ${e2e(n)}%14.4f $u%-4s samples=$samples")
    }
    println(f"$workload%-12s $phase%-8s failed ${p.failed}/${p.attempted} operations " +
      f"(${100.0 * p.failed / math.max(1, p.attempted)}%.1f%%); steal share ${100.0 * p.steal}%.1f%%")
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: Path): Int = {
    Files.createDirectories(work)
    val w = Workload(name, seed, work)
    var spark: SparkSession = null
    def timedSetup(tr: Tracer): Double = {
      if (spark != null) { w.close(); spark.stop() }
      val t0 = StealClock.mark()
      spark = session(work)
      w.setup(spark, tr)
      StealClock.seconds(t0, StealClock.mark())
    }

    // An untimed full-size operation follows the first (cold) set-up and
    // precedes the timed phase, so that later set-ups and the timed phase
    // run on a warmed-up JVM.
    val setupTimes = (1 to SetupReps).map { rep =>
      val t = timedSetup(Tracer.off)
      if (rep == 1) w.measure(spark, 0.0, Tracer.off)
      t
    }
    val setupS = Stats.median(setupTimes)
    w.measure(spark, 0.0, Tracer.off)
    val phase = w.measure(spark, seconds, Tracer.off)
    val e2e = endToEnd(setupS, phase)
    report(name, "untraced", phase, e2e)
    val t0c = System.nanoTime()
    val failedChecks = w.check(spark)
    System.err.println(f"[perfbench] set-up repetitions ${setupTimes.map(t => f"$t%.2f").mkString(" ")} s; " +
      f"checks ${(System.nanoTime() - t0c) / 1e9}%.2f s")
    failedChecks.foreach(c => System.err.println(s"[perfbench] check failed: $c"))

    val (correct, result) =
      if (!trace) (failedChecks.isEmpty, json(failedChecks.isEmpty, phase.attempted, phase.failed, EndToEnd, e2e))
      else {
        // untraced and traced set-up back to back, so both see the same JVM warmth
        val untracedSetupS = timedSetup(Tracer.off)
        val tr = new Tracer(true)
        val tracedSetupS = timedSetup(tr)
        w.measure(spark, 0.0, Tracer.off)
        val sc = spark.sparkContext
        val lsn = new BenchListener
        sc.addSparkListener(lsn)
        Snapshot.drain(sc)
        val s0 = Snapshot.take()
        Snapshot.resetHeapPeak()
        val traced = w.measure(spark, seconds, tr)
        Snapshot.drain(sc)
        val s1 = Snapshot.take()
        val heapPeak = Snapshot.heapPeakMb
        val tracedE2e = endToEnd(tracedSetupS, traced)
        report(name, "traced", traced, tracedE2e)
        val ops = math.max(1, traced.attempted).toDouble
        val common = Map(
          "config.parse_ms" -> Workload.spanMedian(tr, "config.parse"),
          "gen.plan_ms" -> Workload.perTraceMedian(tr, "gen.plan"),
          "gen.frame_ms" -> Workload.perTraceMedian(tr, "gen.frame"),
          "codegen.compiles" -> (s1.compiles - s0.compiles) / ops,
          "codegen.compile_ms" -> (s1.compileNs - s0.compileNs) / 1e6 / ops,
          "spark.jobs" -> lsn.jobs.get / ops,
          "spark.stages" -> lsn.stages.get / ops,
          "spark.tasks" -> lsn.tasks.get / ops,
          "spark.executor_run_ms" -> lsn.runMs.get / ops,
          "spark.executor_cpu_ms" -> lsn.cpuNs.get / 1e6 / ops,
          "spark.task_skew" -> lsn.taskSkew,
          "spark.shuffle_bytes" -> lsn.shuffleBytes.get / ops,
          "spark.spill_bytes" -> lsn.spillBytes.get / ops,
          "jvm.gc_ms" -> (s1.gcMs - s0.gcMs) / ops,
          "jvm.cpu_ms" -> (s1.cpuNs - s0.cpuNs) / 1e6 / ops,
          "jvm.heap_peak_mb" -> heapPeak)
        val layered = common ++ w.layers(spark, tr, lsn, traced)
        val overhead = EndToEnd.map { case (n, _) => s"trace.overhead.$n" -> (tracedE2e(n) - e2e(n)) }.toMap +
          ("trace.overhead.setup_s" -> (tracedSetupS - untracedSetupS))
        val spans = Map("trace.spans" -> tr.all.size.toDouble)
        val values = PerLayer.map(_._1 -> 0.0).toMap ++ layered ++ overhead ++ spans
        val unknown = values.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        tr.write(work.resolve("trace.json"))
        val tracedChecks = w.check(spark)
        tracedChecks.foreach(c => System.err.println(s"[perfbench] traced phase check failed: $c"))
        val ok = failedChecks.isEmpty && tracedChecks.isEmpty
        (ok, json(ok, phase.attempted + traced.attempted, phase.failed + traced.failed, PerLayer, values))
      }
    println(ResultPrefix + result)
    if (correct) 0 else 1
  }
}
