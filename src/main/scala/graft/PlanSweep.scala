package graft

/** Plan-audit sweep over every gate query WITHOUT executing them: builds
  * each `SparkEntry.queries` frame and reports WindowAudit / JoinAudit
  * findings — the dry-run that r15's lesson demands before wiring a new
  * audit into `graft.Verify` (the WindowAudit guard shipped untested there
  * and refused three of the gate's own queries at HEAD).
  *
  * Usage: runMain graft.PlanSweep <sfDir>   (sf0.001 builds fastest; some
  * queries run small driver-side jobs — boundaries, thresholds — during
  * construction, which is why this needs a real fixture dir.)
  * Exit code 1 when any finding printed. */
object PlanSweep {
  def main(args: Array[String]): Unit =
    graft.operators.Residuals.withScope(graft.operators.Residuals.newScope()) {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Main.buildSession("graft-plansweep")
    spark.sparkContext.setLogLevel("ERROR")
    var findings = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        graft.plans.WindowAudit.globalDataWindows(df).foreach { w =>
          findings += 1; println(s"[window] $name: $w")
        }
        graft.plans.JoinAudit.quadraticJoins(df).foreach { j =>
          findings += 1; println(s"[join] $name: $j")
        }
        // SPARK_GRAFT_SWEEP_COUNTS=1: also EXECUTE the broadcast-hint
        // boundedness counts (r17) — not plan-only, so opt-in; this is
        // the dry-run mode the r15 lesson demands before the check is
        // trusted in Verify
        if (sys.env.get("SPARK_GRAFT_SWEEP_COUNTS").contains("1"))
          try graft.plans.JoinAudit.assertBroadcastBounds(df, name)
          catch { case e: IllegalStateException =>
            findings += 1; println(s"[hinted-size] ${e.getMessage}")
          }
      } catch { case e: Throwable =>
        findings += 1
        println(s"[build-fail] $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      graft.operators.Residuals.release()
    }
    println(s"[sweep] ${SparkEntry.queries.size} queries, $findings findings")
    spark.stop()
    if (findings > 0) sys.exit(1)
  }
}
