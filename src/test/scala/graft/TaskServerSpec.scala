package graft

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** Task-server response bodies stay valid JSON whatever text an error
  * carries, and a stopped server leaves no thread behind. */
class TaskServerSpec extends SparkSuite {

  test("/status of a task that failed with a backslash in its message is valid JSON") {
    val handle = graft.server.TaskServer.start(spark, 0)
    val base = s"http://localhost:${handle.port}"
    val client = java.net.http.HttpClient.newHttpClient()
    def send(req: java.net.http.HttpRequest.Builder): String =
      client.send(req.build(), java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    val mapper = new ObjectMapper()
    try {
      // the output dir sits under a regular file, so writing backup.json
      // fails with an error naming a path that contains a backslash
      val root = java.nio.file.Files.createTempDirectory("statusjson")
      val blocker = java.nio.file.Files.createFile(root.resolve("not\\a dir"))
      val dir = blocker.resolve("out").toString
      val cfg = mapper.createObjectNode()
      cfg.put("random_seed", 7)
      cfg.putObject("output").put("type", "devnull").put("dir", dir)
      cfg.putObject("models").putObject("m").put("rows_count", 10)
        .putArray("columns").addObject().put("name", "id").put("type", "uuid")
      val submitted = mapper.readTree(send(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(s"$base/generate"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(cfg)))))
      val id = submitted.path("task_id").asText()
      assert(id.nonEmpty, submitted)
      var status = mapper.createObjectNode(): com.fasterxml.jackson.databind.JsonNode
      val deadline = System.currentTimeMillis() + 60000
      while (status.path("state").asText("running") == "running" && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        val body = send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/status/$id")).GET())
        status = try mapper.readTree(body) catch {
          case e: com.fasterxml.jackson.core.JsonProcessingException => fail(s"invalid /status JSON: $body", e)
        }
      }
      assert(status.path("state").asText() == "failed", status)
      assert(status.path("result").asText().contains("not\\a dir"), status)
    } finally handle.stop()
  }

  test("/status, /generate-config and backup.json stay valid JSON for quotes in model names and formats") {
    val handle = graft.server.TaskServer.start(spark, 0)
    val base = s"http://localhost:${handle.port}"
    val client = java.net.http.HttpClient.newHttpClient()
    val mapper = new ObjectMapper()
    def post(path: String, body: String): String =
      client.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    def parse(body: String) = try mapper.readTree(body) catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException => fail(s"invalid JSON: $body", e)
    }
    try {
      val model = "m\"1\\"
      val cfg = mapper.createObjectNode()
      cfg.put("random_seed", 7)
      val dir = java.nio.file.Files.createTempDirectory("quotedmodel")
      cfg.putObject("output").put("type", "devnull").put("dir", dir.toString)
      cfg.putObject("models").putObject(model).put("rows_count", 10)
        .putArray("columns").addObject().put("name", "id").put("type", "uuid")
      val id = parse(post("/generate", mapper.writeValueAsString(cfg))).path("task_id").asText()
      assert(id.nonEmpty)
      var status = mapper.createObjectNode(): com.fasterxml.jackson.databind.JsonNode
      val deadline = System.currentTimeMillis() + 60000
      while (status.path("state").asText("running") == "running" && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        status = parse(client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"$base/status/$id")).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body())
        assert(status.path("models").has(model), status)
      }
      assert(status.path("state").asText() == "done", status)
      assert(status.path("result").path(model).asLong() == 10, status)
      val backup = parse(new String(java.nio.file.Files.readAllBytes(dir.resolve("backup.json")), "UTF-8"))
      assert(backup.path("models").has(model), backup)

      val bad = parse(post("/generate-config", """{"format":"x\"y","sql_query":"CREATE TABLE t (a INT)"}"""))
      assert(bad.path("error").asText() == "format x\"y", bad)
    } finally handle.stop()
  }

  test("stop() ends the server's task and HTTP threads") {
    val prefixes = Seq("task-server-run-", "task-server-http-")
    def serverThreads(): Set[Thread] = Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.isAlive && prefixes.exists(t.getName.startsWith))
    val before = serverThreads()
    val handle = graft.server.TaskServer.start(spark, 0)
    val base = s"http://localhost:${handle.port}"
    val client = java.net.http.HttpClient.newHttpClient()
    val mapper = new ObjectMapper()
    def send(req: java.net.http.HttpRequest.Builder): com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(client.send(req.build(), java.net.http.HttpResponse.BodyHandlers.ofString()).body())
    val started =
      try {
        val body = s"""{"random_seed":7,"output":{"type":"devnull","dir":"${java.nio.file.Files.createTempDirectory("stopthreads")}"},""" +
          """"models":{"m":{"rows_count":10,"columns":[{"name":"id","type":"uuid"}]}}}"""
        val id = send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/generate"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))).path("task_id").asText()
        assert(id.nonEmpty)
        var state = "running"
        val deadline = System.currentTimeMillis() + 60000
        while (state == "running" && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          state = send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/status/$id")).GET())
            .path("state").asText("running")
        }
        assert(state == "done")
        serverThreads() -- before
      } finally handle.stop()
    prefixes.foreach(p => assert(started.exists(_.getName.startsWith(p)), s"no $p thread ran the task"))
    val deadline = System.currentTimeMillis() + 5000
    while (started.exists(_.isAlive) && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(!started.exists(_.isAlive), s"alive after stop(): ${started.filter(_.isAlive).map(_.getName)}")
  }
}
