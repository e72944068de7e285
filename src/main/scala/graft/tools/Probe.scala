package graft.tools

import graft.operators.Residuals

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Path, Paths}
import scala.util.control.NonFatal

/** Per-query dev tool over [[graft.SparkEntry.queries]]: timings or plans.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <query>[,<query>...] [--plan <outDir>]
  *
  * Without `--plan`: three noop-write samples per query, one
  * `PROBE <query> a b c` line (seconds) each. Residual caches are released
  * after every sample, outside the timed window, so samples 2-3 time the
  * computation rather than warm cache reads.
  *
  * With `--plan`: builds each query without executing it and writes
  * `<outDir>/<query>.txt` holding the formatted explain followed by the
  * optimized logical tree (the relation the plan audits walk).
  *
  * The regression gate is `perfbench`, not this tool. */
object Probe {

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || (args.length == 4 && args(2) == "--plan"),
      "usage: Probe <sfDir> <query>[,<query>...] [--plan <outDir>]")
    val planDir = if (args.length == 4) Some(Paths.get(args(3))) else None
    val spark = graft.Main.buildSession("graft-probe")
    spark.sparkContext.setLogLevel("ERROR")
    // JIT/codegen warm-up on a trivial action before the first sample
    if (planDir.isEmpty) spark.range(1000000).selectExpr("sum(id)").collect()
    val failed = try run(spark, args(0), args(1).split(",").toSeq, planDir)
      finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Probes `names` in their own residual scope; a query that fails is
    * reported on stderr and skipped. Returns the failed names. */
  def run(spark: SparkSession, sfDir: String, names: Seq[String],
      planDir: Option[Path]): Seq[String] =
    Residuals.withScope(Residuals.newScope()) {
      planDir.foreach(Files.createDirectories(_))
      names.flatMap { q =>
        try {
          planDir match {
            case Some(dir) => println(s"[probe] wrote ${writePlan(spark, sfDir, q, dir)}")
            case None =>
              println(f"PROBE $q%-28s ${samples(spark, sfDir, q).map(s => f"$s%.2f").mkString(" ")}")
          }
          None
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[probe] $q failed: ${e.getMessage}")
            Some(q)
        } finally Residuals.release()
      }
    }

  private def samples(spark: SparkSession, sfDir: String, q: String): Seq[Double] = {
    val fn = graft.SparkEntry.queries(q)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode(SaveMode.Overwrite).save()
      val s = (System.nanoTime() - t0) / 1e9
      Residuals.release()
      s
    }
  }

  private def writePlan(spark: SparkSession, sfDir: String, q: String, dir: Path): Path = {
    val qe = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution
    val txt = qe.explainString(ExplainMode.fromString("formatted")) +
      "\n== Optimized Logical Plan ==\n" + qe.optimizedPlan.treeString
    Files.write(dir.resolve(s"$q.txt"), txt.getBytes("UTF-8"))
  }
}
