package graft

import java.util.concurrent.atomic.AtomicReference

import graft.engine.Engine

import org.apache.spark.sql.SparkSession

/** Live per-model progress for the CLI `generate` path — reference parity
  * with sdvg's per-model progress bars
  * (`internal/generator/cli/progress/bar/bar.go`, wired in
  * `cli/commands/generate/generate.go`), re-expressed over Spark's status
  * tracker instead of per-writer row counters: [[start]] scopes the
  * model's jobs into a job group on the RUNNING thread (job groups are
  * thread-local), and a daemon thread renders completed/total task
  * percentage — the exact math the task server's `/status` endpoint
  * reports — as a carriage-return bar on stderr every `intervalMs`.
  * stdout stays machine-readable; `--no-progress` skips construction. */
final class ProgressRenderer(spark: SparkSession, intervalMs: Long = 500L) {

  private val current = new AtomicReference[String](null)
  @volatile private var running = true

  private def render(m: String, p: Double): Unit = {
    val width = 24
    val filled = math.max(0, math.min(width, math.round(p / 100.0 * width).toInt))
    System.err.print(
      f"\r$m%-20s [${"=" * filled}${" " * (width - filled)}] $p%5.1f%%")
    System.err.flush()
  }

  private val ticker = new Thread(() => {
    try while (running) {
      // a transient tracker failure (session shutdown race, job-group
      // transition) must skip the tick, not kill the thread — a dead
      // ticker silently freezes the bar for every remaining model
      try {
        val m = current.get()
        if (m != null) render(m, Engine.groupProgress(spark, s"cli-gen::$m"))
      } catch { case scala.util.control.NonFatal(_) => () }
      Thread.sleep(intervalMs)
    } catch { case _: InterruptedException => () }
  }, "graft-progress")
  ticker.setDaemon(true)
  ticker.start()

  /** Call from the thread that will run the model's jobs. */
  def start(model: String): Unit = {
    spark.sparkContext.setJobGroup(s"cli-gen::$model", s"generate $model")
    current.set(model)
  }

  def finish(model: String): Unit = {
    current.compareAndSet(model, null)
    render(model, 100.0)
    System.err.println()
    spark.sparkContext.clearJobGroup()
  }

  def close(): Unit = {
    running = false
    ticker.interrupt()
  }
}
