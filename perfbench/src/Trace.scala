package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval around a call into the program. `trace` groups the
  * spans of one benchmark operation (a job, a task, a pipeline run). */
final case class Span(id: Long, parent: Long, trace: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled tracers record nothing and cost one
  * branch per call, so the untraced phase runs the same code path. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newTrace(): Long = ids.incrementAndGet()

  def span[T](name: String, trace: Long, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
    }

  /** Records an interval measured elsewhere (hook callbacks, listener times). */
  def record(name: String, trace: Long, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, trace, name, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq

  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val off = new Tracer(false)
}

/** Scheduler-level counters for the traced phase. Job starts are also kept
  * per job group, so the task server's queue wait (submit acknowledged to
  * first Spark job of the task) can be read off. */
final class BenchListener extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSkew = mutable.ArrayBuffer.empty[Double]
  private val groupFirstStart = mutable.Map.empty[String, Long]
  private val groupLastEnd = mutable.Map.empty[String, Long]
  private val jobGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      jobGroup(e.jobId) = g
      if (!groupFirstStart.contains(g)) groupFirstStart(g) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach(g => groupLastEnd(g) = math.max(groupLastEnd.getOrElse(g, 0L), e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.incrementAndGet()
    taskTimes.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med > 0) stageSkew += ts.max / med
    }
  }

  /** Median over stages with two or more tasks of max/median task time. */
  def taskSkew: Double = synchronized(if (stageSkew.isEmpty) 0.0 else Stats.median(stageSkew.toSeq))

  /** (first job start, last job end) in epoch ms over the groups starting with `prefix`. */
  def groupSpan(prefix: String): Option[(Long, Long)] = synchronized {
    val starts = groupFirstStart.collect { case (g, t) if g.startsWith(prefix) => t }
    val ends = groupLastEnd.collect { case (g, t) if g.startsWith(prefix) => t }
    if (starts.isEmpty || ends.isEmpty) None else Some((starts.min, ends.max))
  }
}

/** Process-wide counters read before and after a phase: Spark's codegen
  * compile count and time, JVM garbage-collection time and process CPU time. */
final case class Snapshot(compiles: Long, compileNs: Long, gcMs: Long, cpuNs: Long)

object Snapshot {
  def take(): Snapshot = Snapshot(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime)

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def drain(sc: SparkContext): Unit = ListenerDrain.waitUntilEmpty(sc, 10000L)
}
