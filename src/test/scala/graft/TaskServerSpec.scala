package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Task-server response bodies stay valid JSON whatever text an error carries. */
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
}
