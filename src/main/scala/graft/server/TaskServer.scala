package graft.server

import graft.config.ConfigParser
import graft.engine.Engine

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.jdk.CollectionConverters._

/** Async HTTP task API, mirroring the reference server surface
  * (sdvg `cli/commands/serve/handlers.go:20-27,58-264`, `serve.go:31-60`):
  *
  *   POST /generate        config JSON -> {"task_id": uuid} (async)
  *   GET  /status/<uuid>   -> per-model progress map or final message
  *   POST /validate-config -> {"valid": true} | errors
  *   POST /generate-config -> config authoring over HTTP: description mode
  *                            (LLM loop, needs a ChatApi — 503 otherwise,
  *                            like the reference's OpenAI ping gate at
  *                            `handlers.go:230-243`), or the deterministic
  *                            sql_query / sample_path modes
  *
  * Implementation: JDK HttpServer on the driver; each task is a Future
  * running the Spark actions; progress comes from Spark's job tracking.
  * Finished tasks are evicted after a 5-minute TTL (reference `task.go:23`).
  */
object TaskServer {

  private val MaxBody = 1 << 20 // 1 MB body limit, like the reference
  private val TtlMillis = 5L * 60 * 1000

  /** Control-flow marker: the handler already sent its response. */
  private case object Handled extends RuntimeException with scala.util.control.NoStackTrace

  private final case class Task(
      id: String,
      models: Seq[String],
      @volatile var state: String, // running | done | failed
      @volatile var message: String,
      @volatile var finishedAt: Long) {
    val completedModels = ConcurrentHashMap.newKeySet[String]()
  }

  final class Handle(server: HttpServer) {
    def join(): Unit = Thread.currentThread().join()
    def stop(): Unit = server.stop(0)
    def port: Int = server.getAddress.getPort
  }

  def start(spark: SparkSession, port: Int,
      chatApi: Option[graft.config.ProseAuthoring.ChatApi] = None): Handle = {
    val tasks = new ConcurrentHashMap[String, Task]()
    val pool = Executors.newFixedThreadPool(4)
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    def readBody(ex: HttpExchange): String = {
      val bytes = ex.getRequestBody.readNBytes(MaxBody + 1)
      if (bytes.length > MaxBody) throw new IllegalArgumentException("body too large")
      new String(bytes, StandardCharsets.UTF_8)
    }

    def evictExpired(): Unit = {
      val now = System.currentTimeMillis()
      tasks.values().asScala
        .filter(t => t.state != "running" && now - t.finishedAt > TtlMillis)
        .foreach(t => tasks.remove(t.id))
    }

    server.createContext("/generate", (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"method not allowed"}""")
        else {
          evictExpired()
          val body = readBody(ex)
          val cfg = ConfigParser.parseJson(body)
          val id = UUID.randomUUID().toString
          val task = Task(id, cfg.activeModels.map(_.name), "running", "", 0L)
          tasks.put(id, task)
          pool.submit(new Runnable {
            def run(): Unit =
              try {
                // one job group PER MODEL (`<task>::<model>`) so /status can
                // read live per-model progress from the status tracker — the
                // reference reports a {model: percent} map per task
                // (`handlers.go:131-183`), not one aggregate fraction
                val counts = Engine.run(spark, cfg, force = true,
                  onModelStart = m => spark.sparkContext.setJobGroup(
                    s"$id::$m", s"graft task $id model $m", interruptOnCancel = true),
                  onModelDone = m => task.completedModels.add(m))
                task.message = counts.map { case (m, n) => s""""$m":$n""" }.mkString("{", ",", "}")
                task.state = "done"
              } catch {
                case e: Exception =>
                  task.message = "\"" + esc(String.valueOf(e.getMessage)) + "\""
                  task.state = "failed"
              } finally {
                spark.sparkContext.clearJobGroup()
                task.finishedAt = System.currentTimeMillis()
              }
          })
          respond(ex, 200, s"""{"task_id":"$id"}""")
        }
      } catch {
        case e: Exception => respond(ex, 400, s"""{"error":"${esc(String.valueOf(e.getMessage))}"}""")
      }
    })

    server.createContext("/status/", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.stripPrefix("/status/")
      Option(tasks.get(id)) match {
        case None => respond(ex, 404, """{"error":"task not found"}""")
        case Some(t) =>
          // live per-model progress: completed/total Spark tasks of each
          // model's job group; finished models pin to 100 (the tracker
          // forgets old jobs, so group math alone would regress to 0)
          def modelPct(m: String): Double =
            if (t.state != "running" || t.completedModels.contains(m)) 100.0
            else Engine.groupProgress(spark, s"${t.id}::$m")
          val pcts = t.models.map(m => m -> modelPct(m))
          val models = pcts.map { case (m, p) => f""""$m":$p%.1f""" }.mkString("{", ",", "}")
          val progress = if (pcts.isEmpty) 1.0 else pcts.map(_._2).sum / (100.0 * pcts.size)
          respond(ex, 200, f"""{"task_id":"${t.id}","state":"${t.state}","progress":$progress%.3f,"models":$models,"result":${
            if (t.message.isEmpty) "null" else t.message}}""")
      }
    })

    server.createContext("/validate-config", (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"method not allowed"}""")
        else {
          ConfigParser.parseJson(readBody(ex))
          respond(ex, 200, """{"valid":true}""")
        }
      } catch {
        case e: ConfigParser.ConfigException =>
          val errs = e.errors.map(m => "\"" + esc(m) + "\"")
          respond(ex, 400, s"""{"valid":false,"errors":[${errs.mkString(",")}]}""")
        case e: Exception =>
          respond(ex, 400, s"""{"valid":false,"errors":["${esc(String.valueOf(e.getMessage))}"]}""")
      }
    })

    // Full JSON string escaping (incl. \r, \t and all other control chars) —
    // every handler's error path must use THIS, not ad-hoc replace chains: a
    // control character in an exception message would otherwise emit invalid
    // JSON.
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    // DELIBERATE API DIFFERENCE from the reference server (handlers.go
    // returns the raw generated config document as the 200 body): this
    // endpoint returns a JSON envelope {"config":...,"valid":...,
    // "attempts":...[,"errors":[...]]} so a client can see whether the
    // generated document passed validation and how many LLM attempts it
    // took WITHOUT re-posting it to /validate-config. Clients wanting the
    // reference shape read just the "config" field.
    server.createContext("/generate-config", (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "POST") respond(ex, 405, """{"error":"method not allowed"}""")
        else {
          val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(readBody(ex))
          val format = Option(body.path("format").asText(null)).map(_.toLowerCase)
            .filter(_.nonEmpty).getOrElse("yaml")
          if (!Seq("json", "yaml", "yml").contains(format))
            respond(ex, 400, s"""{"message":"Unsupported format","error":"format $format"}""")
          else {
            def field(n: String): Option[String] =
              Option(body.path(n).asText(null)).filter(_.nonEmpty)
            (field("sql_query"), field("sample_path"), field("description")) match {
              case (Some(ddl), _, _) =>
                // deterministic DDL translator — strictly stronger than the
                // reference's LLM round-trip for this mode (SURVEY §2.10)
                val cfg = graft.config.ConfigAuthoring.fromDdl(spark, ddl)
                respond(ex, 200, s"""{"config":"${esc(cfg)}","valid":true,"attempts":1}""")
              case (None, Some(path), _) =>
                val cfg = graft.config.ConfigAuthoring.fromSample(spark, path)
                respond(ex, 200, s"""{"config":"${esc(cfg)}","valid":true,"attempts":1}""")
              case (None, None, Some(desc0)) =>
                chatApi match {
                  case None =>
                    respond(ex, 503, """{"message":"OpenAI is not available","error":"no chat api configured"}""")
                  case Some(api) =>
                    try graft.config.ProseAuthoring.ping(api)
                    catch {
                      case e: Exception =>
                        respond(ex, 503, s"""{"message":"OpenAI is not available","error":"${esc(String.valueOf(e.getMessage))}"}""")
                        throw Handled
                    }
                    // reference prepends the bolded description type
                    val desc = field("description_type")
                      .map(t => s"**$t**\n$desc0").getOrElse(desc0)
                    val r = graft.config.ProseAuthoring.tryGenerate(
                      api, if (format == "yml") "yaml" else format, desc)
                    val errs = r.lastError
                      .map(e => s""","errors":["${esc(e)}"]""").getOrElse("")
                    respond(ex, 200,
                      s"""{"config":"${esc(r.content)}","valid":${r.valid},"attempts":${r.attempts}$errs}""")
                }
              case _ =>
                respond(ex, 400,
                  """{"message":"Invalid request body","error":"one of description, sql_query, sample_path is required"}""")
            }
          }
        }
      } catch {
        case Handled => // response already sent
        case e: Exception =>
          respond(ex, 400,
            s"""{"message":"Unable to generate config","error":"${esc(String.valueOf(e.getMessage))}"}""")
      }
    })

    server.setExecutor(Executors.newFixedThreadPool(8))
    server.start()
    new Handle(server)
  }
}
