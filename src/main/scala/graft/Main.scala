package graft

import graft.config.ConfigParser
import graft.engine.Engine

import org.apache.spark.sql.SparkSession

/** CLI entry point, mirroring the reference's command surface
  * (sdvg `cmd/sdvg/main.go`, `internal/generator/cli/commands`):
  *
  *   generate <config.(yml|json)> [--force] [--continue] [--no-progress]
  *            [--cpu-profile <out.jfr>] [--memory-profile <out.hprof>]
  *   validate-config <config>
  *   serve [port]
  */
object Main {

  /** The session every main builds (CLI verbs, Verify, PlanSweep, ScaleData,
    * tools.Probe): `SPARK_GRAFT_CPUS` cores (default: all) and as many
    * shuffle partitions, UTC, ANSI and AQE on. */
  def buildSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // overflow contracts across operators assume ANSI raises loudly —
      // pinned, not inherited from the build default (r14 ADVICE)
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** Value of a `--name <value>` option, if present. A following token
    * that is itself a flag is a MISSING value, not a value — otherwise
    * `--cpu-profile --force` would silently write a file named --force
    * while also enabling force mode (r16 ADVICE). */
  private def optVal(rest: List[String], name: String): Option[String] =
    rest.dropWhile(_ != name).drop(1).headOption match {
      case Some(v) if v.startsWith("--") =>
        throw new IllegalArgumentException(
          s"option $name expects a value, got flag '$v'")
      case other => other
    }

  def main(args: Array[String]): Unit = args.toList match {
    case "generate" :: path :: rest =>
      val force = rest.contains("--force")
      val resume = rest.contains("--continue")
      val parsed = ConfigParser.parseFile(path)
      val spark = buildSession("graft-generate")
      spark.sparkContext.setLogLevel("WARN")
      val quiet = rest.contains("--no-progress")
      // reference parity (app.go startProfiling/stopProfiling): JFR cpu
      // recording over the run, .hprof heap dump at exit — see Profiling
      val stopCpu = optVal(rest, "--cpu-profile").map(Profiling.startCpu)
      try {
        val cfg = if (resume) Engine.resumedConfig(spark, parsed) else parsed
        val t0 = System.nanoTime()
        // live per-model progress on stderr (reference parity: the CLI
        // renders a bar per model while generating) — same job-group task
        // math as the task server's /status map, carriage-return rendering,
        // no extra deps. stdout stays machine-readable (final counts only).
        val bar = if (quiet) None else Some(new ProgressRenderer(spark))
        val counts =
          try Engine.run(spark, cfg, force, resume,
            onModelStart = m => bar.foreach(_.start(m)),
            onModelDone = m => bar.foreach(_.finish(m)))
          finally bar.foreach(_.close())
        val secs = (System.nanoTime() - t0) / 1e9
        counts.toSeq.sortBy(_._1).foreach { case (m, n) =>
          println(f"model $m: $n%d rows written")
        }
        println(f"done in $secs%.2f s")
      } finally {
        stopCpu.foreach(_.apply())
        optVal(rest, "--memory-profile").foreach(Profiling.dumpHeap)
        spark.stop()
      }

    case "validate-config" :: path :: Nil =>
      try {
        ConfigParser.parseFile(path)
        println("config is valid")
      } catch {
        case e: ConfigParser.ConfigException =>
          System.err.println(e.getMessage)
          sys.exit(1)
      }

    case "generate-config" :: "description" :: rest if rest.size <= 1 =>
      // INTERACTIVE mode (reference `generate-config description` with no
      // file args): prompt for save path / description / clarifications on
      // the console; pipe-friendly (multi-line blocks end with a "." line)
      import graft.config.{ConsoleMenu, ProseAuthoring}
      val baseUrl = sys.env.getOrElse("GRAFT_OPENAI_BASE_URL",
        sys.error("GRAFT_OPENAI_BASE_URL not set"))
      val api = new ProseAuthoring.OpenAiHttpApi(
        baseUrl,
        sys.env.getOrElse("GRAFT_OPENAI_API_KEY", ""),
        sys.env.getOrElse("GRAFT_OPENAI_MODEL", "gpt-4o-mini"))
      ProseAuthoring.ping(api)
      val menu = new ConsoleMenu(
        new java.io.BufferedReader(new java.io.InputStreamReader(System.in)), System.out)
      val (path, result) = ProseAuthoring.interactiveDescription(api, menu, rest.headOption)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path), result.content.getBytes("UTF-8"))
      if (!result.valid)
        System.err.println("warning: config accepted with validation errors: " +
          result.lastError.getOrElse(""))
      println(s"wrote $path (attempts: ${result.attempts})")

    case "generate-config" :: "description" :: in :: out :: Nil =>
      // LLM prose mode: no Spark session needed. Endpoint/credentials come
      // from env (reference reads them from CLI options):
      //   GRAFT_OPENAI_BASE_URL, GRAFT_OPENAI_API_KEY, GRAFT_OPENAI_MODEL
      import graft.config.ProseAuthoring
      val baseUrl = sys.env.getOrElse("GRAFT_OPENAI_BASE_URL",
        sys.error("GRAFT_OPENAI_BASE_URL not set"))
      val api = new ProseAuthoring.OpenAiHttpApi(
        baseUrl,
        sys.env.getOrElse("GRAFT_OPENAI_API_KEY", ""),
        sys.env.getOrElse("GRAFT_OPENAI_MODEL", "gpt-4o-mini"))
      ProseAuthoring.ping(api)
      val desc = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(in)), "UTF-8")
      val format = if (out.endsWith(".json")) "json" else "yaml"
      val result = ProseAuthoring.tryGenerate(api, format, desc)
      java.nio.file.Files.write(java.nio.file.Paths.get(out), result.content.getBytes("UTF-8"))
      if (!result.valid)
        System.err.println("warning: generated config still has validation errors " +
          s"after ${result.attempts} attempts: ${result.lastError.getOrElse("")}")
      println(s"wrote $out (attempts: ${result.attempts})")

    case "generate-config" :: mode :: in :: out :: Nil =>
      val spark = buildSession("graft-config")
      spark.sparkContext.setLogLevel("ERROR")
      try {
        val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(in)), "UTF-8")
        val yaml = mode match {
          case "sql-query" => graft.config.ConfigAuthoring.fromDdl(spark, text)
          case "data-sample" => graft.config.ConfigAuthoring.fromSample(spark, in)
          case other => sys.error(s"unknown generate-config mode $other (description | sql-query | data-sample)")
        }
        java.nio.file.Files.write(java.nio.file.Paths.get(out), yaml.getBytes("UTF-8"))
        println(s"wrote $out")
      } finally spark.stop()

    case "curate" :: cfgPath :: in :: out :: Nil =>
      // config-driven curation over an existing corpus: YAML steps in,
      // curated parquet/jsonl out — the read-side twin of `generate`
      val yamlText = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(cfgPath)), "UTF-8")
      val steps =
        try graft.operators.CurationPipeline.parse(yamlText)
        catch {
          case e: graft.operators.CurationPipeline.PipelineException =>
            System.err.println("failed to validate curation pipeline:")
            e.errors.foreach(err => System.err.println(s"  $err"))
            sys.exit(1)
        }
      val spark = buildSession("graft-curate")
      spark.sparkContext.setLogLevel("WARN")
      try {
        val docs =
          if (in.endsWith(".jsonl") || in.endsWith(".json")) spark.read.json(in)
          else spark.read.parquet(in)
        val result = graft.operators.CurationPipeline.run(docs, "doc_id", "text", steps)
        if (out.endsWith(".jsonl") || out.endsWith(".json"))
          result.write.mode("overwrite").json(out)
        else result.write.mode("overwrite").parquet(out)
        // count the WRITTEN output (metadata-speed) instead of re-running
        // the whole pipeline a second time for a log line
        val written =
          if (out.endsWith(".jsonl") || out.endsWith(".json")) spark.read.json(out).count()
          else spark.read.parquet(out).count()
        println(s"curated $written docs -> $out")
      } finally spark.stop()

    case "serve" :: rest =>
      val port = rest.headOption.map(_.toInt).getOrElse(8080)
      val spark = buildSession("graft-serve")
      spark.sparkContext.setLogLevel("WARN")
      graft.server.TaskServer.start(spark, port).join()

    case "version" :: Nil =>
      // reference `cli/commands/version/version.go:14-21` ("SDVG version x")
      println(s"graft version $Version (Spark ${org.apache.spark.SPARK_VERSION}, " +
        s"Scala ${scala.util.Properties.versionNumberString})")

    case _ =>
      System.err.println(
        """usage:
          |  generate <config.yml|config.json> [--force] [--continue] [--no-progress]
          |           [--cpu-profile <out.jfr>] [--memory-profile <out.hprof>]
          |  validate-config <config>
          |  generate-config description [save-path]           (interactive)
          |  generate-config <description|sql-query|data-sample> <in> <out>
          |  curate <pipeline.yml> <in.parquet|jsonl> <out>
          |  serve [port]
          |  version""".stripMargin)
      sys.exit(2)
  }

  /** Build identifier: the jar manifest's Implementation-Version when run
    * from a packaged jar, the sbt build version otherwise. */
  private[graft] def Version: String =
    Option(getClass.getPackage.getImplementationVersion).getOrElse("0.1.0")
}
