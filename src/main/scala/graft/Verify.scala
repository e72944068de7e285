package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit =
    // own residual scope: two harnesses sharing a JVM can no longer
    // release each other's in-flight caches (r11 verdict #8)
    graft.operators.Residuals.withScope(graft.operators.Residuals.newScope()) {
    val Array(sfDir, outDir) = args
    val spark = Main.buildSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Input self-protection (round-8 lesson): fingerprint every table and
    // abort before the first query if any time column decodes outside the
    // plausible epoch window — fixture drift must fail LOUDLY, not produce
    // a full round of silently-wrong output.
    Fingerprints.report(spark, sfDir)
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump to named queries — local
    // iteration aid; the driver never sets it, so the gate always runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var produced = 0
    val failed = Seq.newBuilder[String]
    // SPARK_GRAFT_RESUME=1: skip queries whose output already has a
    // parquet _SUCCESS marker — lets a long gate run (the sf1 sweep)
    // restart after an interrupted session without redoing finished work
    val resume = sys.env.get("SPARK_GRAFT_RESUME").contains("1")
    selected.foreach { case (name, fn) =>
      if (resume && Files.exists(Paths.get(s"$outDir/$name/_SUCCESS"))) {
        produced += 1
      } else
      try {
        val df = fn(spark, sfDir)
        // scale guards, each swept against the FULL query set before being
        // wired here (the r15 lesson): any unpartitioned Window must sit on
        // an aggregate-reduced input (r14 verdict #5), and any non-equi
        // join needs a reduced or explicitly-broadcast side (r16) — fails
        // THIS query loudly instead of shipping a single-task shuffle or a
        // silent quadratic
        graft.plans.WindowAudit.assertMetadataWindows(df, name)
        graft.plans.JoinAudit.assertEquiJoins(df, name, allow = Set.empty)
        // the broadcast hint is a waiver of the equi-key rule, not of
        // boundedness — count every load-bearing hinted side (r16 verdict
        // #3; swept with SPARK_GRAFT_SWEEP_COUNTS=1 before wiring)
        graft.plans.JoinAudit.assertBroadcastBounds(df, name)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        produced += 1
      }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // consume-boundary: drop this query's residual caches (pagerank
      // edges, basket streams, CC label checkpoints, …) so a 235-query
      // gate doesn't accumulate every operator's cached lifetime
      graft.operators.Residuals.release()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonString(k)}: ${JsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // loud trailer + non-zero exit (r16 verdict #6): with per-query errors
    // isolated to stderr lines, a swallowed failure must still be
    // impossible to miss — the checker's counts are the real gate, this
    // makes the dump itself self-reporting
    val bad = failed.result()
    println(s"[verify] produced $produced of ${selected.size} queries" +
      (if (bad.nonEmpty) s"; FAILED: ${bad.mkString(", ")}" else ""))
    // machine-readable trailer for a caller that keeps only the tail of
    // stdout (a long last line used to be cut there): one SHORT JSON line,
    // always last on stdout
    println(s"""{"verify_produced":$produced,"verify_total":${selected.size},"failed":[${
      bad.map(JsonString(_)).mkString(",")}]}""")
    if (bad.nonEmpty) sys.exit(1)
  }
}
