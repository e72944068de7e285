package graft.engine

import graft.JsonString
import graft.config.HttpOutput

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP/TCS sink: per-partition batched POSTs with exponential retry.
  *
  * Replaces the reference's writer-goroutine pool (sdvg
  * `writer/http/http.go:35-326`, `writer/tcs/tcs.go:11-25`) with
  * `df.foreachPartition`: each Spark task batches its rows, renders the body
  * template and POSTs with timeout-derived exponential backoff (1 s .. 10 min,
  * like the reference). Parallelism = partitions; no driver bottleneck, no
  * collected data.
  *
  * Template surface: [[BodyTemplate]] — field paths, `json`/`len`,
  * `range`/`end` and whitespace trimming, the surface the reference's
  * `text/template` + custom funcs expose over `{ModelName, Rows}`
  * (`writer/http/http.go:134-151`). Parsed once on the driver, so a
  * malformed template fails the job before any generation runs.
  */
object HttpSink {

  def write(df: DataFrame, modelName: String, out: HttpOutput): Unit = {
    val schema = df.schema
    val endpoint = out.endpoint
    val headers = out.headers.toSeq
    val tmpl = BodyTemplate.parse(out.template)
    val batchSize = math.max(1L, out.batchSize).toInt
    val timeoutMs = out.timeoutMillis
    val workers = math.max(1, out.workersCount)

    df.foreachPartition { (rows: Iterator[Row]) =>
      val client = HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(timeoutMs))
        .build()
      def post(batch: Seq[Row]): Unit = {
        val body = BodyTemplate.render(tmpl, modelName, batch, schema)
        postWithRetry(client, endpoint, headers, body, timeoutMs)
      }
      // `workers_count` writer threads PER TASK (reference runs N writer
      // goroutines per output — http.go:35-326): request latency overlaps
      // instead of serializing the partition on one in-flight POST. A
      // bounded queue keeps at most `workers` batches materialized; a post
      // failure (after its own retry policy) fails the task.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
      val pending = new java.util.ArrayDeque[java.util.concurrent.Future[_]]()
      try {
        rows.grouped(batchSize).foreach { batch =>
          while (pending.size >= workers) pending.poll().get() // propagate failures
          pending.add(pool.submit(new Runnable { def run(): Unit = post(batch) }))
        }
        while (!pending.isEmpty) pending.poll().get()
      } finally pool.shutdownNow()
    }
  }

  private[engine] def rowsJson(batch: Seq[Row], schema: StructType): String = {
    val sb = new java.lang.StringBuilder(batch.size * 64)
    sb.append('[')
    var first = true
    batch.foreach { row =>
      if (!first) sb.append(',')
      first = false
      sb.append('{')
      var i = 0
      while (i < schema.length) {
        if (i > 0) sb.append(',')
        sb.append('"').append(schema(i).name).append("\":")
        appendJsonValue(sb, row, i, schema(i).dataType)
        i += 1
      }
      sb.append('}')
    }
    sb.append(']')
    sb.toString
  }

  private def appendJsonValue(sb: java.lang.StringBuilder, row: Row, i: Int, dt: DataType): Unit = {
    if (row.isNullAt(i)) { sb.append("null"); return }
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | BooleanType =>
        sb.append(row.get(i).toString)
      case TimestampType =>
        sb.append('"').append(row.getTimestamp(i).toInstant.toString).append('"')
      case _ =>
        JsonString.append(sb, row.get(i).toString)
    }
  }

  /** Exponential backoff from 1 s, doubling, capped at 10 min total —
    * mirroring the reference retry policy (`writer/http/http.go`). */
  private def postWithRetry(
      client: HttpClient, endpoint: String, headers: Seq[(String, String)],
      body: String, timeoutMs: Long): Unit = {
    var delayMs = 1000L
    var total = 0L
    val maxTotal = 10L * 60 * 1000
    var done = false
    while (!done) {
      try {
        val builder = HttpRequest.newBuilder(URI.create(endpoint))
          .timeout(Duration.ofMillis(timeoutMs))
          .header("Content-Type", "application/json")
        headers.foreach { case (k, v) => builder.header(k, v) }
        val req = builder.POST(HttpRequest.BodyPublishers.ofString(body)).build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() >= 200 && resp.statusCode() < 300) done = true
        else throw new RuntimeException(s"http sink: status ${resp.statusCode()}")
      } catch {
        case e: Exception =>
          if (total >= maxTotal) throw new RuntimeException(s"http sink failed after retries", e)
          Thread.sleep(delayMs)
          total += delayMs
          delayMs = math.min(delayMs * 2, 60000L)
      }
    }
  }
}
