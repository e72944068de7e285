package perfbench

import graft.config.ConfigParser
import graft.engine.Engine
import graft.functions.Kernels
import graft.gen.Planner
import graft.operators.CurationPipeline
import graft.server.TaskServer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** One timed phase. `latenciesMs` holds successful operations only; failed
  * ones are counted in `failed`. Latencies and `busyS` are in [[StealClock]]
  * time; `steal` is the phase's steal share. */
final case class Phase(latenciesMs: Seq[Double], attempted: Int, failed: Int, rows: Long, busyS: Double,
    steal: Double) {
  def succeeded: Int = latenciesMs.size
}

/** A benchmark workload. `Main` calls `setup` once per set-up repetition
  * (each with a fresh session), then `measure`, `check` and, in a traced run,
  * `layers` after a traced `measure`. */
trait Workload {
  def setup(spark: SparkSession, tr: Tracer): Unit
  def measure(spark: SparkSession, seconds: Double, tr: Tracer): Phase
  /** Output checks; each returned string is one failed check. */
  def check(spark: SparkSession): Seq[String]
  /** Workload-specific per-layer metrics of the traced phase. */
  def layers(spark: SparkSession, tr: Tracer, lsn: BenchListener, phase: Phase): Map[String, Double]
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, seed: Long, work: Path): Workload = name match {
    case "gen_parquet" => new GenWorkload(seed, work)
    case "task_api" => new TaskApiWorkload(seed)
    case "curate" => new CurateWorkload(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs `op` back to back until `seconds` have passed, at least once.
    * `op` returns the rows it processed; an exception counts the operation
    * as failed. */
  def loop(seconds: Double, tr: Tracer)(op: Long => Long): Phase = {
    val lat = Seq.newBuilder[Double]
    var attempted, failed = 0
    var rows = 0L
    val start = StealClock.mark()
    val deadline = start.nanos + (seconds * 1e9).toLong
    do {
      attempted += 1
      val t0 = StealClock.mark()
      try {
        rows += op(tr.newTrace())
        lat += StealClock.seconds(t0, StealClock.mark()) * 1e3
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] operation failed: $e")
      }
    } while (System.nanoTime() < deadline)
    val end = StealClock.mark()
    Phase(lat.result(), attempted, failed, rows, StealClock.seconds(start, end), StealClock.stealShare(start, end))
  }

  def spanMedian(tr: Tracer, name: String): Double = Stats.median(tr.durations(name))

  /** Median over traces of the summed duration of the spans called `name`. */
  def perTraceMedian(tr: Tracer, name: String): Double =
    Stats.median(tr.all.filter(_.name == name).groupBy(_.trace).values.map(_.map(_.ms).sum).toSeq)

  /** Data files (not Spark/Hadoop bookkeeping) under `root`: (count, bytes). */
  def dataFiles(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val walk = Files.walk(root)
      val files =
        try walk.iterator().asScala.filter(Files.isRegularFile(_))
          .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
          .toList
        finally walk.close()
      (files.size.toLong, files.map(Files.size).sum)
    }

  def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }
}

/** `gen_parquet`: the two-model job through `Engine.run`, written as parquet. */
final class GenWorkload(seed: Long, work: Path) extends Workload {
  private val outDir = work.resolve("gen").toAbsolutePath.toString
  private val yaml = Configs.genYaml(seed, Configs.parquetOutput(outDir))
  private val warmYaml = Configs.genYaml(seed, Configs.parquetOutput(outDir), Configs.WarmUpShrink)
  private val rowsPerJob = Configs.ParentRows + Configs.ChildRows

  /** One job: parse the config text and run it. */
  private def job(spark: SparkSession, tr: Tracer, trace: Long, text: String = yaml): Long = {
    val cfg = tr.span("config.parse", trace)(_ => ConfigParser.parseYaml(text))
    if (tr.enabled) cfg.activeModels.foreach { m =>
      tr.span("gen.plan", trace)(_ => Planner.planModel(cfg, m))
      tr.span("gen.frame", trace)(_ => Engine.modelFrame(spark, cfg, m))
    }
    tr.span("engine.run", trace) { parent =>
      val runStart = System.nanoTime()
      var modelStart = runStart
      var lastDone = runStart
      val counts = Engine.run(spark, cfg, force = true,
        onModelStart = _ => {
          modelStart = System.nanoTime()
          if (lastDone == runStart) tr.record("engine.preflight", trace, parent, runStart, modelStart)
        },
        onModelDone = m => {
          lastDone = System.nanoTime()
          tr.record(s"engine.write.$m", trace, parent, modelStart, lastDone)
        })
      tr.record("engine.backup", trace, parent, lastDone, System.nanoTime())
      counts.values.sum
    }
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = job(spark, tr, tr.newTrace(), warmYaml)

  def measure(spark: SparkSession, seconds: Double, tr: Tracer): Phase =
    Workload.loop(seconds, tr)(t => job(spark, tr, t))

  def check(spark: SparkSession): Seq[String] = {
    val cfg = ConfigParser.parseYaml(yaml)
    val parent = spark.read.parquet(s"$outDir/customers")
    val child = spark.read.parquet(s"$outDir/orders")
    val errs = Seq.newBuilder[String]
    val p = parent.agg(count(lit(1)), countDistinct(col("id"))).head()
    val (pRows, distinctIds) = (p.getLong(0), p.getLong(1))
    val c = child.join(broadcast(parent.select(col("id"))), col("customer_id") === col("id"), "left")
      .agg(count(lit(1)), count(when(col("id").isNull, 1))).head()
    val (cRows, orphans) = (c.getLong(0), c.getLong(1))
    if (pRows != Configs.ParentRows) errs += s"customers: $pRows rows, expected ${Configs.ParentRows}"
    if (cRows != Configs.ChildRows) errs += s"orders: $cRows rows, expected ${Configs.ChildRows}"
    if (distinctIds != pRows) errs += s"customers.id: $distinctIds distinct of $pRows rows"
    if (orphans != 0) errs += s"orders.customer_id: $orphans rows outside customers.id"
    val listing = Files.list(Path.of(outDir, "orders"))
    val parts =
      try listing.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("status=")).toList.sorted
      finally listing.close()
    if (parts != Configs.Statuses.map("status=" + _)) errs += s"orders partitions: ${parts.mkString(",")}"
    // sampled parent rows against the planner's own per-row oracle
    val plans = Planner.planModel(cfg, cfg.model("customers"))
    val rnd = new scala.util.Random(seed)
    val sample = Seq.fill(16)(rnd.nextLong(Configs.ParentRows))
    val expected = sample.map(r => plans.map(_.valueAt(r)))
    val idIdx = plans.indexWhere(_.name == "id")
    val got = parent.filter(col("id").isin(expected.map(_(idIdx)): _*))
      .select(plans.map(p => col(p.name)): _*).collect()
      .map(r => r.get(idIdx) -> r.toSeq.map(norm)).toMap
    expected.foreach { e =>
      got.get(e(idIdx)) match {
        case None => errs += s"customers row with id ${e(idIdx)} missing"
        case Some(row) if row != e.map(norm) => errs += s"customers row ${row.mkString(",")} != ${e.mkString(",")}"
        case _ => ()
      }
    }
    errs.result()
  }

  private def norm(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.toInstant
    case x => x
  }

  def layers(spark: SparkSession, tr: Tracer, lsn: BenchListener, phase: Phase): Map[String, Double] = {
    val (files, bytes) = Seq("customers", "orders").map(m => Workload.dataFiles(Path.of(outDir, m)))
      .foldLeft((0L, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    Map(
      "engine.preflight_ms" -> Workload.spanMedian(tr, "engine.preflight"),
      "engine.write_ms.customers" -> Workload.spanMedian(tr, "engine.write.customers"),
      "engine.write_ms.orders" -> Workload.spanMedian(tr, "engine.write.orders"),
      "engine.backup_ms" -> Workload.spanMedian(tr, "engine.backup"),
      "engine.files" -> files.toDouble,
      "engine.bytes" -> bytes.toDouble,
      "engine.bytes_per_row" -> bytes.toDouble / rowsPerJob) ++ columnCosts(spark, tr)
  }

  /** Marginal cost of each column: the model frame over `ColumnRows` ids with
    * that column alone projected, written to noop, minus the same frame with
    * no generated column. Each time is the second (warm) of two passes. */
  private def columnCosts(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val ColumnRows = 2000000L
    val cfg = ConfigParser.parseYaml(yaml)
    val trace = tr.newTrace()
    cfg.activeModels.flatMap { m =>
      val frame = Engine.modelFrame(spark, cfg, m.copy(generateFrom = 0L, generateTo = ColumnRows))
      def passMs(name: String, c: org.apache.spark.sql.Column): Double = {
        def pass(): Unit = frame.select(c).write.format("noop").mode("overwrite").save()
        pass()
        tr.span(name, trace)(_ => Workload.timeMs(pass()))
      }
      val base = passMs(s"gen.column.${m.name}.none", lit(1))
      Planner.planModel(cfg, m).map { p =>
        s"gen.col_ns_per_row.${p.name}" -> (passMs(s"gen.column.${p.name}", col(p.name)) - base) * 1e6 / ColumnRows
      }
    }.toMap
  }
}

/** `task_api`: a closed loop of clients against `TaskServer` on loopback. */
final class TaskApiWorkload(seed: Long) extends Workload {
  val Clients = 4
  val PollMs = 10L
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private var server: TaskServer.Handle = _
  private val nextTask = new AtomicLong(1L << 20) // set-up tasks use small indices
  private val mismatches = new ConcurrentLinkedQueue[String]()
  private val polls = new AtomicLong
  /** (task id, submit ack epoch ms) of traced tasks. */
  private val acks = new ConcurrentLinkedQueue[(String, Long)]()

  private def send(req: HttpRequest): HttpResponse[String] =
    http.send(req, HttpResponse.BodyHandlers.ofString())

  private def url(path: String) = URI.create(s"http://127.0.0.1:${server.port}$path")

  /** Submits one task of client `client` and polls until it ends. Returns
    * true when the task finished `done` with the requested row count. */
  private def task(spark: SparkSession, tr: Tracer, client: Int, i: Long): Boolean = {
    val trace = tr.newTrace()
    val body = Configs.taskJson(seed, i, s"tasks/client-$client")
    if (tr.enabled) {
      val cfg = tr.span("config.parse", trace)(_ => ConfigParser.parseJson(body))
      cfg.activeModels.foreach { m =>
        tr.span("gen.plan", trace)(_ => Planner.planModel(cfg, m))
        tr.span("gen.frame", trace)(_ => Engine.modelFrame(spark, cfg, m))
      }
    }
    val submit = tr.span("server.submit", trace)(_ => send(HttpRequest.newBuilder(url("/generate"))
      .timeout(Duration.ofSeconds(30)).POST(HttpRequest.BodyPublishers.ofString(body)).build()))
    if (submit.statusCode != 200) {
      System.err.println(s"[perfbench] submit returned ${submit.statusCode}: ${submit.body}")
      return false
    }
    val id = mapper.readTree(submit.body).path("task_id").asText("")
    if (tr.enabled) acks.add((id, System.currentTimeMillis()))
    val deadline = System.nanoTime() + 120L * 1000000000L
    while (System.nanoTime() < deadline) {
      Thread.sleep(PollMs)
      polls.incrementAndGet()
      val st = tr.span("server.status", trace)(_ => send(HttpRequest.newBuilder(url(s"/status/$id"))
        .timeout(Duration.ofSeconds(30)).GET().build()))
      val node =
        try mapper.readTree(st.body)
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] /status body is not JSON (${e.getMessage.takeWhile(_ != '\n')})")
            return false
        }
      if (st.statusCode != 200) return false
      node.path("state").asText("") match {
        case "running" => ()
        case "done" =>
          val n = node.path("result").path("events").asLong(-1L)
          if (n != Configs.TaskRows) mismatches.add(s"task $id reported $n rows, expected ${Configs.TaskRows}")
          return true
        case other =>
          System.err.println(s"[perfbench] task $id ended $other: ${node.path("result")}")
          return false
      }
    }
    System.err.println(s"[perfbench] task $id did not finish")
    false
  }

  /** `clients` threads each run tasks back to back until `seconds` have
    * passed, at least one task each; tasks in flight at the deadline run to
    * their end. */
  private def closedLoop(spark: SparkSession, seconds: Double, tr: Tracer, clients: Int,
      taskIds: => Long): Phase = {
    val lat = new ConcurrentLinkedQueue[Double]()
    val attempted, failed = new AtomicInteger
    val start = StealClock.mark()
    val deadline = start.nanos + (seconds * 1e9).toLong
    val threads = (1 to clients).map { c =>
      new Thread(() => {
        var first = true
        while (first || System.nanoTime() < deadline) {
          first = false
          attempted.incrementAndGet()
          val t0 = StealClock.mark()
          val ok =
            try task(spark, tr, c, taskIds)
            catch {
              case e: Exception =>
                System.err.println(s"[perfbench] task request failed: $e"); false
            }
          if (ok) lat.add(StealClock.seconds(t0, StealClock.mark()) * 1e3) else failed.incrementAndGet()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val ls = lat.asScala.toSeq
    val end = StealClock.mark()
    Phase(ls, attempted.get, failed.get, ls.size * Configs.TaskRows, StealClock.seconds(start, end),
      StealClock.stealShare(start, end))
  }

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    server = TaskServer.start(spark, 0)
    // warm-up: one round of concurrent tasks on seeds the timed phase never uses
    val warm = new AtomicLong(0)
    closedLoop(spark, 0.0, tr, Clients, warm.incrementAndGet())
  }

  def measure(spark: SparkSession, seconds: Double, tr: Tracer): Phase = {
    polls.set(0)
    acks.clear()
    closedLoop(spark, seconds, tr, Clients, nextTask.incrementAndGet())
  }

  def check(spark: SparkSession): Seq[String] = mismatches.asScala.toSeq

  def layers(spark: SparkSession, tr: Tracer, lsn: BenchListener, phase: Phase): Map[String, Double] = {
    val spans = acks.asScala.toSeq.flatMap { case (id, ack) =>
      lsn.groupSpan(s"$id::").map { case (first, last) => (first - ack).toDouble -> (last - first).toDouble }
    }
    Map(
      "server.submit_ms" -> Workload.spanMedian(tr, "server.submit"),
      "server.status_ms" -> Workload.spanMedian(tr, "server.status"),
      "server.polls_per_task" -> polls.get.toDouble / phase.attempted,
      "server.queue_wait_ms" -> Stats.median(spans.map(_._1)),
      "server.run_ms" -> Stats.median(spans.map(_._2)),
      "server.failed_tasks" -> phase.failed.toDouble)
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** `curate`: the curation pipeline over an engine-generated corpus. */
final class CurateWorkload(seed: Long, work: Path) extends Workload {
  private val corpusDir = work.resolve("corpus").toAbsolutePath.toString
  private val outDir = work.resolve("curated").toAbsolutePath.toString
  private val steps = CurationPipeline.parse(Configs.PipelineYaml)

  private def docs(spark: SparkSession): DataFrame = spark.read.parquet(s"$corpusDir/docs")

  private def curate(tr: Tracer, trace: Long, input: DataFrame): Unit =
    tr.span("operators.run", trace) { _ =>
      CurationPipeline.run(input, "doc_id", "text", steps).write.mode("overwrite").parquet(outDir)
    }

  def setup(spark: SparkSession, tr: Tracer): Unit = {
    val trace = tr.newTrace()
    val cfg = tr.span("config.parse", trace)(_ => ConfigParser.parseYaml(Configs.corpusYaml(seed, corpusDir)))
    tr.span("engine.run", trace)(_ => Engine.run(spark, cfg, force = true))
    curate(tr, trace, docs(spark).filter(pmod(col("doc_id"), lit(Configs.WarmUpShrink)) === 0))
  }

  def measure(spark: SparkSession, seconds: Double, tr: Tracer): Phase =
    Workload.loop(seconds, tr) { t => curate(tr, t, docs(spark)); Configs.CorpusDocs }

  def check(spark: SparkSession): Seq[String] = {
    val out = spark.read.parquet(outDir)
    val errs = Seq.newBuilder[String]
    val dups = out.groupBy(Kernels.normalizeTextCol(col("text"))).count().filter(col("count") > 1).count()
    if (dups != 0) errs += s"$dups normalized texts kept more than once"
    out.groupBy("source").count().collect().foreach { r =>
      if (r.getLong(1) > Configs.CapPerSource) errs += s"source ${r.getString(0)} kept ${r.getLong(1)} docs"
    }
    val kept = out.count().toDouble
    val shares = out.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1) / kept).toMap
    Configs.Splits.foreach { case (name, want) =>
      val got = shares.getOrElse(name, 0.0)
      if (math.abs(got - want) > 0.02) errs += f"split $name share $got%.4f, expected $want"
    }
    if (kept == 0) errs += "no documents kept"
    errs.result()
  }

  def layers(spark: SparkSession, tr: Tracer, lsn: BenchListener, phase: Phase): Map[String, Double] = {
    // successive step prefixes to noop; a step's cost is the difference
    // between the prefix that ends with it and the one before
    val trace = tr.newTrace()
    def prefix(n: Int): Double = {
      val df = CurationPipeline.run(docs(spark), "doc_id", "text", steps.take(n))
      df.write.format("noop").mode("overwrite").save()
      tr.span(s"operators.prefix.$n", trace)(_ => Workload.timeMs(df.write.format("noop").mode("overwrite").save()))
    }
    val times = (0 to steps.size).map(prefix)
    val stepMs = Configs.CurationSteps.zipWithIndex.map { case (op, i) =>
      s"operators.step_ms.$op" -> (times(i + 1) - times(i))
    }
    (stepMs :+ ("operators.kept_rows" -> spark.read.parquet(outDir).count().toDouble)).toMap
  }
}
