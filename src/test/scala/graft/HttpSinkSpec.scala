package graft

import graft.config.{ConfigParser, HttpOutput}
import graft.engine.{Engine, HttpSink, Output}

import com.sun.net.httpserver.HttpServer

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** HTTP/TCS sink + task-server tests against a local HttpServer (the Spark
  * analog of the reference's httptest-based writer tests —
  * `writer/http/http_test.go`, `cli/commands/serve/handlers_test.go`). */
class HttpSinkSpec extends SparkSuite {

  private def withServer[A](status: () => Int)(f: (String, ConcurrentLinkedQueue[String]) => A): A = {
    val bodies = new ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/ingest", ex => {
      bodies.add(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val code = status()
      ex.sendResponseHeaders(code, 2L)
      ex.getResponseBody.write("ok".getBytes)
      ex.close()
    })
    server.start()
    try f(s"http://localhost:${server.getAddress.getPort}/ingest", bodies)
    finally server.stop(0)
  }

  test("http sink posts templated JSON batches") {
    withServer(() => 200) { (endpoint, bodies) =>
      val cfg = ConfigParser.parseYaml(
        s"""
           |random_seed: 42
           |output:
           |  type: http
           |  params: { endpoint: "$endpoint", batch_size: 100 }
           |models:
           |  users:
           |    rows_count: 250
           |    columns:
           |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 249 }, ordered: true, distinct_percentage: 1 }
           |      - { name: name, type: string, type_params: { logical_type: first_name } }
           |""".stripMargin)
      Engine.run(spark, cfg)
      val all = bodies.asScala.toSeq
      assert(all.nonEmpty)
      all.foreach { b =>
        assert(b.contains(""""table_name": "users""""), b.take(120))
        assert(b.contains(""""rows": ["""), b.take(120))
      }
      // every row arrives exactly once
      val ids = all.flatMap(b => "\"id\":(\\d+)".r.findAllMatchIn(b).map(_.group(1).toLong))
      assert(ids.sorted == (0L until 250L))
    }
  }

  test("http sink posts exactly the model's columns for write_to_output partition columns") {
    withServer(() => 200) { (endpoint, bodies) =>
      val cfg = ConfigParser.parseYaml(
        s"""
           |random_seed: 42
           |output:
           |  type: http
           |  params: { endpoint: "$endpoint", batch_size: 50, format_template: '{{ json .Rows }}' }
           |models:
           |  users:
           |    rows_count: 120
           |    columns:
           |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 119 }, ordered: true, distinct_percentage: 1 }
           |      - { name: grp, type: string, values: [a, b, c] }
           |    partition_columns:
           |      - { name: grp, write_to_output: true }
           |""".stripMargin)
      Engine.run(spark, cfg)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val rows = bodies.asScala.toSeq.flatMap(b => mapper.readTree(b).elements().asScala)
      assert(rows.size == 120)
      rows.foreach(r => assert(r.fieldNames().asScala.toSeq == Seq("id", "grp"), r.toString))
    }
  }

  test("body template engine: paths, json/len, range/end, trimming, loud errors") {
    import graft.engine.{BodyTemplate, HttpSink}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val rows = Seq(Row(1L, "a\"b"), Row(2L, null))
    def r(t: String) = BodyTemplate.render(BodyTemplate.parse(t), "users", rows, schema)
    // the reference's default template shape
    assert(r("""{ "table_name": "{{ .ModelName }}", "rows": {{ json .Rows }} }""") ==
      """{ "table_name": "users", "rows": [{"id":1,"name":"a\"b"},{"id":2,"name":null}] }""")
    // the reference models_test.go custom-template shape: len + field paths
    assert(r("""n={{ len .Rows }}""") == "n=2")
    // range with per-row field access, json of a field, and trim markers
    assert(r("""ids:{{ range .Rows }} {{- json .id }},{{ end }}""") == "ids:1,2,")
    assert(r("""{{ range .Rows }}[{{ .id }}:{{ json .name }}]{{ end }}""") ==
      """[1:"a\"b"][2:null]""")
    // json of the row dot and of the whole payload
    assert(r("""{{ range .Rows }}{{ json . }};{{ end }}""") ==
      """{"id":1,"name":"a\"b"};{"id":2,"name":null};""")
    assert(r("""{{ json . }}""") ==
      """{"ModelName":"users","Rows":[{"id":1,"name":"a\"b"},{"id":2,"name":null}]}""")
    // malformed templates fail at PARSE time with a clear message
    intercept[IllegalArgumentException](BodyTemplate.parse("{{ range .Rows }}no end"))
    intercept[IllegalArgumentException](BodyTemplate.parse("{{ printf .X }}"))
    intercept[IllegalArgumentException](BodyTemplate.parse("{{ .id. }}")) // trailing dot
    // unsupported Go-template features are named in the error, so a user
    // porting a reference template knows exactly what to rewrite
    assert(intercept[IllegalArgumentException](
      BodyTemplate.parse("{{ if .X }}{{ end }}")).getMessage.contains("'if' actions"))
    assert(intercept[IllegalArgumentException](
      BodyTemplate.parse("{{ with .Rows }}{{ end }}")).getMessage.contains("'with' actions"))
    assert(intercept[IllegalArgumentException](
      BodyTemplate.parse("{{ $x := .Rows }}")).getMessage.contains("variables"))
    assert(intercept[IllegalArgumentException](
      BodyTemplate.parse("{{ .name | upper }}")).getMessage.contains("pipelines"))
    // unknown column fails at render with the standard schema error
    intercept[IllegalArgumentException](r("""{{ range .Rows }}{{ .nope }}{{ end }}"""))
  }

  test("http sink renders a custom range template end-to-end") {
    withServer(() => 200) { (endpoint, bodies) =>
      val cfg = ConfigParser.parseYaml(
        s"""
           |random_seed: 42
           |output:
           |  type: http
           |  params:
           |    endpoint: "$endpoint"
           |    batch_size: 100
           |    format_template: '{ "n": {{ len .Rows }}, "ids": [{{ range .Rows }}{{ .id }},{{ end }}0] }'
           |models:
           |  users:
           |    rows_count: 150
           |    columns:
           |      - { name: id, type: integer, type_params: { bit_width: 64, from: 0, to: 149 }, ordered: true, distinct_percentage: 1 }
           |""".stripMargin)
      Engine.run(spark, cfg)
      val all = bodies.asScala.toSeq
      assert(all.nonEmpty)
      all.foreach(b => assert(b.matches("""\{ "n": \d+, "ids": \[(\d+,)*0\] \}"""), b.take(120)))
      val ids = all.flatMap { b =>
        val inner = "\"ids\": \\[([^\\]]*)\\]".r.findFirstMatchIn(b).get.group(1)
        inner.split(',').toSeq.filter(_.nonEmpty).init.map(_.toLong)
      }
      assert(ids.sorted == (0L until 150L))
      val ns = all.map(b => "\"n\": (\\d+)".r.findFirstMatchIn(b).get.group(1).toInt)
      assert(ns.sum == 150)
    }
  }

  test("http sink retries failures until success") {
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    withServer(() => if (failures.getAndDecrement() > 0) 500 else 200) { (endpoint, bodies) =>
      val out = HttpOutput("", endpoint, 1000L, 1, 2000L, Map.empty,
        graft.config.Defaults.HttpTemplate)
      import spark.implicits._
      HttpSink.write(Seq((1L, "a")).toDF("id", "v").coalesce(1), "m", out)
      assert(bodies.size() == 3) // 2 failures + 1 success, same body re-sent
    }
  }

  test("http sink workers_count posts batches CONCURRENTLY within a partition") {
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.createContext("/ingest", ex => {
      val now = inFlight.incrementAndGet()
      maxInFlight.updateAndGet(m => math.max(m, now))
      Thread.sleep(150) // hold the request open so overlap is observable
      inFlight.decrementAndGet()
      ex.sendResponseHeaders(200, 2L)
      ex.getResponseBody.write("ok".getBytes)
      ex.close()
    })
    server.start()
    try {
      val endpoint = s"http://localhost:${server.getAddress.getPort}/ingest"
      val out = HttpOutput("", endpoint, 10L, 4, 2000L, Map.empty,
        graft.config.Defaults.HttpTemplate)
      import spark.implicits._
      // ONE partition, 8 batches of 10: serial would hold 1 request in
      // flight; 4 workers must overlap them
      HttpSink.write((0L until 80L).toDF("id").coalesce(1), "m", out)
      assert(maxInFlight.get() >= 2,
        s"workers_count=4 never overlapped posts (max in flight ${maxInFlight.get()})")
    } finally server.stop(0)
  }

  test("task server: async generate + status + validate-config") {
    val handle = graft.server.TaskServer.start(spark, 0)
    val base = s"http://localhost:${handle.port}"
    val client = java.net.http.HttpClient.newHttpClient()
    def post(path: String, body: String): (Int, String) = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base$path"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def get(path: String): (Int, String) = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base$path")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      val (vc, vb) = post("/validate-config", """{"models":{}}""")
      assert(vc == 400, vb)
      val dir = java.nio.file.Files.createTempDirectory("serve").toString
      // TWO models: /status must report a per-model percentage map (the
      // reference returns {model: percent} per task, handlers.go:131-183)
      val cfgJson =
        s"""{"random_seed": 7, "output": {"type": "parquet", "dir": "$dir"},
           |"models": {"m1": {"rows_count": 100,
           |  "columns": [{"name": "id", "type": "uuid"}]},
           |"m2": {"rows_count": 200000,
           |  "columns": [{"name": "id", "type": "uuid"},
           |    {"name": "name", "type": "string", "type_params": {"logical_type": "first_name"}}]}}}""".stripMargin
      val (okV, _) = post("/validate-config", cfgJson)
      assert(okV == 200)
      val (c, b) = post("/generate", cfgJson)
      assert(c == 200, b)
      val id = "\"task_id\":\"([0-9a-f-]+)\"".r.findFirstMatchIn(b).get.group(1)
      var state = ""
      var last = ""
      val polled = scala.collection.mutable.ArrayBuffer.empty[String]
      val deadline = System.currentTimeMillis() + 60000
      while (state != "done" && state != "failed" && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        last = get(s"/status/$id")._2
        polled += last
        state = "\"state\":\"(\\w+)\"".r.findFirstMatchIn(last).get.group(1)
      }
      assert(state == "done", s"task ended in $state: $last")
      // every poll carries BOTH models' percentages; the final one pins 100
      assert(polled.forall(p => p.contains("\"m1\":") && p.contains("\"m2\":")),
        s"per-model map missing from status: ${polled.headOption}")
      assert(last.contains("\"m1\":100.0") && last.contains("\"m2\":100.0"), last)
      assert(spark.read.parquet(s"$dir/m1").count() == 100)
      assert(spark.read.parquet(s"$dir/m2").count() == 200000)
      assert(get("/status/nope")._1 == 404)
    } finally handle.stop()
  }

  test("task server: POST /generate-config round-trips all three authoring modes") {
    // scripted ChatApi: first reply is broken YAML, second is valid — the
    // validation loop's error feedback must drive the retry, like the
    // reference's generate -> validate -> regenerate cycle
    val good =
      """models:
        |  users:
        |    rows_count: 10
        |    columns:
        |      - { name: id, type: uuid }
        |""".stripMargin
    val scripted = new graft.config.ProseAuthoring.ChatApi {
      val baseUrl = "scripted://"
      private var calls = 0
      def models(): Seq[String] = Seq("m")
      def chat(messages: Seq[graft.config.ProseAuthoring.ChatMessage]): String = {
        calls += 1
        if (calls == 1) "models: {}" else s"```yaml\n$good```"
      }
    }
    val handle = graft.server.TaskServer.start(spark, 0, chatApi = Some(scripted))
    val base = s"http://localhost:${handle.port}"
    val client = java.net.http.HttpClient.newHttpClient()
    def post(body: String): (Int, String) = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$base/generate-config"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      // description mode: invalid first attempt -> retry -> valid
      val (dc, db) = post("""{"format":"yaml","description":"a users table"}""")
      assert(dc == 200, db)
      assert(db.contains("\"valid\":true") && db.contains("\"attempts\":2"), db)
      // sql-query mode: deterministic DDL translation, config parses back
      val (sc, sb) = post(
        """{"format":"yaml","sql_query":"CREATE TABLE t (id BIGINT, name STRING)"}""")
      assert(sc == 200, sb)
      assert(sb.contains("\"valid\":true") && sb.contains("rows_count"), sb)
      // data-sample mode
      val csv = java.nio.file.Files.createTempFile("sample", ".csv")
      java.nio.file.Files.writeString(csv, "id,score\n1,0.5\n2,0.9\n")
      val (pc, pb) = post(s"""{"format":"yaml","sample_path":"$csv"}""")
      assert(pc == 200, pb)
      assert(pb.contains("\"valid\":true") && pb.contains("score"), pb)
      // errors: bad format, empty request, method
      assert(post("""{"format":"xml","description":"x"}""")._1 == 400)
      assert(post("""{"format":"yaml"}""")._1 == 400)
      // no-api server answers description mode 503 (reference's OpenAI gate)
      val bare = graft.server.TaskServer.start(spark, 0)
      try assert(client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:${bare.port}/generate-config"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"format":"yaml","description":"x"}""")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode() == 503)
      finally bare.stop()
    } finally handle.stop()
  }
}
