package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.api.Detect
import graft.errors._
import graft.ingest.Uploads
import graft.model.Entity
import graft.scrub.Scrubber
import graft.scrub.Scrubber.ScrubResult

/** Minimal HTTP serving layer over the [[graft.api.Detect]] facade — the
  * reference's primary entry point (reference src/api.py:156-556) closed
  * end-to-end: routes `/health` (:214), `/info` (:226), `/detect` (:246),
  * `/detect/batch` (:291), `/detect/file` (:404) map 1:1 onto the library
  * functions, with the reference's error contract (GraftError.toJson
  * bodies; input/field/file-parsing errors → 400, model errors → 503,
  * anything else → 500 InternalServerError; api.py:473-484).
  *
  * Zero external dependencies: the JDK's `com.sun.net.httpserver` plus the
  * Jackson that ships on the Spark classpath. A fixed pool of
  * [[HttpApi.PoolSize]] threads mirrors the reference's `gunicorn -w 4`
  * (Makefile:97). Every route scrubs in-process on its worker thread and
  * encodes [[Scrubber.ScrubResult]]s; `Scrubber.scrub` is a pure function,
  * so concurrent requests are safe. Spark is touched only to read csv/xlsx
  * uploads and the model directory.
  *
  * Serving-scale note: this is the REQUEST-scoped surface (≤ 1000 texts or
  * one ≤ 50 MB upload per call, same caps as the reference). The corpus-
  * scale path is the library surface itself (QualityFilter / scrubGrid
  * over tables) — a REST hop per row would be the wrong architecture at
  * 10^12 files, exactly as the reference separates api.py from
  * run_data_pipeline.py.
  */
final class HttpApi(spark: SparkSession, modelDir: String) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _
  private var pool: ExecutorService = _

  /** Bind and start; `port = 0` picks an ephemeral port. Returns the
    * actual bound port. Worker threads are named `graft-http-<port>-<n>`.
    */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "server already started")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    val bound = server.getAddress.getPort
    val n = new AtomicInteger()
    pool = Executors.newFixedThreadPool(HttpApi.PoolSize,
      (r: Runnable) => new Thread(r, s"graft-http-$bound-${n.incrementAndGet()}"))
    server.setExecutor(pool)
    server.createContext("/health", route("GET", health))
    server.createContext("/info", route("GET", info))
    server.createContext("/detect/batch", route("POST", detectBatch))
    server.createContext("/detect/file", route("POST", detectFile))
    server.createContext("/detect", route("POST", detectSingle))
    server.start()
    bound
  }

  /** Close the socket, then shut the worker pool down and wait for the
    * requests in flight to finish.
    */
  def stop(): Unit = synchronized {
    if (server != null) {
      server.stop(0)
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      server = null
      pool = null
    }
  }

  // ------------------------------------------------------------------
  // Routing / error contract
  // ------------------------------------------------------------------
  /** The reference's `detector is None` guard: model dir validates. */
  private def modelLoaded: Boolean = Detect.health(spark, modelDir)._2

  private def statusOf(e: GraftError): Int = e match {
    case _: ModelNotFoundError | _: ModelLoadError => 503
    case _ => 400 // input / field / file-parsing / anything typed (api.py:473-484)
  }

  private def route(method: String, h: HttpExchange => Unit)(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != method)
        send(ex, 405, linked("error" -> "MethodNotAllowed",
          "message" -> s"use $method"))
      else h(ex)
    } catch {
      case e: GraftError => // the error taxonomy's own deterministic to_dict JSON
        sendRaw(ex, statusOf(e), e.toJson.getBytes(StandardCharsets.UTF_8))
      case e: Exception => // never a stack trace to the client (api.py:89-90)
        send(ex, 500, linked("error" -> "InternalServerError",
          "message" -> String.valueOf(e.getMessage)))
    } finally ex.close()

  // ------------------------------------------------------------------
  // Routes
  // ------------------------------------------------------------------
  /** GET /health (api.py:214-219). */
  private def health(ex: HttpExchange): Unit =
    send(ex, 200, linked("status" -> "healthy", "model_loaded" -> modelLoaded))

  /** GET /info (api.py:222-235). */
  private def info(ex: HttpExchange): Unit = {
    if (!modelLoaded) throw ModelNotFoundError("(not initialised)")
    val i = Detect.info(spark, modelDir)
    send(ex, 200, linked(
      "model_path" -> i.model_path,
      "device" -> i.device,
      "confidence_threshold" -> i.confidence_threshold,
      "supported_pii_types" -> i.supported_pii_types,
      "num_labels" -> i.num_labels,
      "batch_size" -> i.batch_size))
  }

  /** POST /detect (api.py:238-288). */
  private def detectSingle(ex: HttpExchange): Unit = {
    if (!modelLoaded) throw ModelNotFoundError("(not initialised)")
    val body = jsonBody(ex)
    if (!body.has("text")) throw MissingFieldError("text")
    val node = body.get("text")
    if (!node.isTextual)
      throw InvalidFieldError("text", s"expected string, got ${pyType(node)}")
    val text = node.asText()
    if (text.trim.isEmpty) throw EmptyInputError("text")
    send(ex, 200, resultDict(Scrubber.scrub(text)))
  }

  /** POST /detect/batch (api.py:291-345): [[Detect.scrubBatch]], results
    * index-aligned with the input.
    */
  private def detectBatch(ex: HttpExchange): Unit = {
    if (!modelLoaded) throw ModelNotFoundError("(not initialised)")
    val body = jsonBody(ex)
    if (!body.has("texts")) throw MissingFieldError("texts")
    val node = body.get("texts")
    if (!node.isArray)
      throw InvalidFieldError("texts", s"expected list, got ${pyType(node)}")
    // a non-string item becomes null → a per-item error, never a failed
    // batch (src/inference.py:355-421 contract)
    val texts = node.elements().asScala.map(n =>
      if (n.isTextual) n.asText() else null).toSeq
    val returnStats = body.has("return_stats") && body.get("return_stats").asBoolean(false)
    val results = Detect.scrubBatch(texts) // throws typed 4xx on empty/oversized
    val resp = linked("results" -> results.map(r => resultDict(r)))
    if (returnStats) resp.put("statistics", statisticsDict(results))
    send(ex, 200, resp)
  }

  /** POST /detect/file (api.py:348-486): multipart upload, fields `file`
    * (required) + `columns` (optional, CSV/Excel).
    */
  private def detectFile(ex: HttpExchange): Unit = {
    if (!modelLoaded) throw ModelNotFoundError("(not initialised)")
    val parts = Multipart.parse(ex)
    val file = parts.find(_.name == "file").getOrElse(throw MissingFieldError("file"))
    val filename = Option(file.filename).filter(_.nonEmpty).getOrElse("upload")
    if (file.body.isEmpty) throw EmptyInputError(s"uploaded file '$filename'")
    if (file.body.length > Uploads.MaxFileBytes) // size before extension (api.py:414-419)
      throw InvalidFieldError("file",
        f"file size ${file.body.length / 1024.0 / 1024.0}%.1f MB exceeds maximum ${Uploads.MaxFileBytes / 1024 / 1024} MB")
    val columns = parts.find(_.name == "columns")
      .map(p => new String(p.body, StandardCharsets.UTF_8))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

    // write to a temp dir under the ORIGINAL (sanitised) name so extension
    // dispatch and error messages carry the client's filename
    val dir = Files.createTempDirectory("graft-upload")
    val safe = filename.replaceAll("[/\\\\]", "_")
    val path = dir.resolve(safe)
    try {
      Files.write(path, file.body)
      send(ex, 200, Uploads.readUpload(spark, path.toString) match {
        case Uploads.TxtUpload(lines) =>
          val results = lines.map(Scrubber.scrub)
          val perLine = lines.zip(results).zipWithIndex.map { case ((l, r), i) =>
            val d = linked("line" -> (i + 1), "original_text" -> l)
            d.putAll(resultDict(r)); d
          }
          linked("filename" -> safe, "file_type" -> "txt",
            "results" -> perLine, "statistics" -> statisticsDict(results))
        case Uploads.GridUpload(df, kind) =>
          val processed = Uploads.resolveColumns(df, columns, safe, kind)
          val header = df.columns.toSeq
          val grid = df.collect() // bounded by the 50 MB upload cap
          val cells = for {
            (row, ri) <- grid.toSeq.zipWithIndex
            c <- processed
          } yield {
            val orig = row.getAs[String](c)
            (ri, c, orig, Scrubber.scrub(orig))
          }
          val results = cells.map { case (ri, c, orig, r) =>
            val d = linked("row" -> ri, "column" -> c, "original_value" -> orig)
            d.putAll(resultDict(r, "redacted_value")); d
          }
          // redacted grid: processed cells carry the scrub output (original
          // kept on per-cell error — scrubGrid's documented semantics);
          // untouched columns pass through
          val byCell = cells.map { case (ri, c, orig, r) =>
            (ri, c) -> (if (r.error != null) orig else r.scrubbed)
          }.toMap
          val records = grid.toSeq.zipWithIndex.map { case (row, ri) =>
            linked(header.map(c => c -> byCell.getOrElse((ri, c), row.getAs[String](c))): _*)
          }
          linked("filename" -> safe, "file_type" -> kind,
            "columns_processed" -> processed,
            "results" -> results,
            "redacted_records" -> records,
            "statistics" -> statisticsDict(cells.map(_._4)))
      })
    } finally {
      Files.deleteIfExists(path); Files.deleteIfExists(dir)
    }
  }

  // ------------------------------------------------------------------
  // JSON plumbing
  // ------------------------------------------------------------------
  private def jsonBody(ex: HttpExchange): JsonNode = {
    val raw = ex.getRequestBody.readAllBytes()
    val node =
      try mapper.readTree(raw)
      catch { case _: Exception => null }
    if (node == null || !node.isObject)
      throw InvalidFieldError("request body", "must be valid JSON")
    node
  }

  /** Python type names for InvalidFieldError parity (api.py:267, 320). */
  private def pyType(n: JsonNode): String =
    if (n.isNull) "NoneType"
    else if (n.isBoolean) "bool"
    else if (n.isIntegralNumber) "int"
    else if (n.isNumber) "float"
    else if (n.isArray) "list"
    else if (n.isObject) "dict"
    else "str"

  private def entityDict(e: Entity) = linked(
    "text" -> e.text, "type" -> e.`type`, "start" -> e.start,
    "end" -> e.end, "confidence" -> e.confidence)

  /** PIIResult.to_dict shape (src/inference.py:66-67); a tabular cell
    * names its redacted text `redacted_value` (api.py:509-515).
    */
  private def resultDict(r: ScrubResult, redactedKey: String = "redacted_text") = linked(
    "has_pii" -> r.hasPii, redactedKey -> r.scrubbed,
    "pii_types" -> r.piiTypes, "entities" -> r.entities.map(entityDict),
    "error" -> r.error)

  /** get_pii_statistics shape (src/inference.py:190-205): distribution is
    * a count-descending object, ties in first-seen order (python's stable
    * sort over dict insertion order).
    */
  private def statisticsDict(rs: Seq[ScrubResult]) = {
    val total = rs.length
    val withPii = rs.count(_.hasPii)
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    rs.foreach(_.piiTypes.foreach(t => counts.update(t, counts.getOrElse(t, 0L) + 1)))
    val dist = new java.util.LinkedHashMap[String, Object]()
    counts.toSeq.sortBy(-_._2).foreach { case (t, c) => dist.put(t, Long.box(c)) }
    val rate =
      if (total == 0) 0.0
      else BigDecimal(withPii.toDouble / total)
        .setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    linked("total_texts" -> total, "texts_with_pii" -> withPii,
      "texts_without_pii" -> (total - withPii), "pii_rate" -> rate,
      "pii_type_distribution" -> dist, "errors" -> rs.count(_.error != null))
  }

  private def linked(kv: (String, Any)*): java.util.LinkedHashMap[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    kv.foreach { case (k, v) => m.put(k, toJava(v)) }
    m
  }

  private def toJava(v: Any): Object = v match {
    case null => null
    case s: String => s
    case b: Boolean => Boolean.box(b)
    case i: Int => Int.box(i)
    case l: Long => Long.box(l)
    case d: Double => Double.box(d)
    case m: java.util.Map[_, _] => m
    case s: scala.collection.Seq[_] =>
      val out = new java.util.ArrayList[Object](s.length)
      s.foreach(x => out.add(toJava(x)))
      out
    case other => other.asInstanceOf[Object]
  }

  private def send(ex: HttpExchange, status: Int, body: Object): Unit =
    sendRaw(ex, status, mapper.writeValueAsBytes(body))

  private def sendRaw(ex: HttpExchange, status: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object HttpApi {

  /** Worker threads per server (the reference's `gunicorn -w 4`). */
  val PoolSize = 4
}

/** Minimal multipart/form-data parser (binary-safe) — enough for the
  * reference's two fields (`file`, `columns`); no external dependency.
  */
private[serve] object Multipart {

  final case class Part(name: String, filename: String, body: Array[Byte])

  def parse(ex: HttpExchange): Seq[Part] = {
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (!ct.toLowerCase.startsWith("multipart/form-data"))
      throw InvalidFieldError("request body", "must be multipart/form-data")
    val boundary = ct.split(";").map(_.trim)
      .find(_.toLowerCase.startsWith("boundary="))
      .map(_.substring("boundary=".length).stripPrefix("\"").stripSuffix("\""))
      .getOrElse(throw InvalidFieldError("request body", "missing multipart boundary"))
    val data = ex.getRequestBody.readAllBytes()
    val delim = ("--" + boundary).getBytes(StandardCharsets.US_ASCII)

    // split on every boundary occurrence; last segment after the final
    // `--boundary--` terminator is ignored
    val positions = scala.collection.mutable.ArrayBuffer[Int]()
    var i = indexOf(data, delim, 0)
    while (i >= 0) { positions += i; i = indexOf(data, delim, i + delim.length) }
    val parts = scala.collection.mutable.ArrayBuffer[Part]()
    positions.toSeq.sliding(2).foreach {
      case scala.collection.Seq(a, b) =>
        var start = a + delim.length
        // skip the CRLF after the boundary (or detect the `--` terminator)
        if (start + 1 < data.length && data(start) == '-' && data(start + 1) == '-') ()
        else {
          if (start + 1 < data.length && data(start) == '\r' && data(start + 1) == '\n') start += 2
          val headerEnd = indexOf(data, "\r\n\r\n".getBytes(StandardCharsets.US_ASCII), start)
          if (headerEnd >= 0 && headerEnd < b) {
            val headers = new String(data, start, headerEnd - start, StandardCharsets.UTF_8)
            val bodyStart = headerEnd + 4
            val bodyEnd = b - 2 // strip the CRLF preceding the next boundary
            val body = java.util.Arrays.copyOfRange(data, bodyStart, math.max(bodyStart, bodyEnd))
            val disp = headers.linesIterator
              .find(_.toLowerCase.startsWith("content-disposition"))
              .getOrElse("")
            parts += Part(attr(disp, "name"), attr(disp, "filename"), body)
          }
        }
      case _ => ()
    }
    parts.toSeq
  }

  private def attr(header: String, key: String): String = {
    val m = java.util.regex.Pattern.compile(key + "=\"([^\"]*)\"").matcher(header)
    if (m.find()) m.group(1) else null
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = math.max(0, from)
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
