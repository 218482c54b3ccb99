package graft.serve

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Real HTTP round-trips against the serving layer: every route, the
  * typed-4xx contract, the 503 model analogue, and the multipart upload
  * path — the reference's api.py lifecycle (routes :214-:486) end-to-end.
  */
class HttpApiSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkTestSession.spark

  private var api: HttpApi = _
  private var port: Int = 0
  private var badApi: HttpApi = _
  private var badPort: Int = 0

  override def beforeAll(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-serve-model").toString
    graft.io.ModelArtifacts.saveLabelMapping(spark, dir,
      graft.ingest.Prepare.buildLabelMapping(Seq("EMAIL", "PHONE"), Seq.empty))
    api = new HttpApi(spark, dir)
    port = api.start()
    badApi = new HttpApi(spark, "/nonexistent-model-dir")
    badPort = badApi.start()
  }

  override def afterAll(): Unit = {
    if (api != null) api.stop()
    if (badApi != null) badApi.stop()
  }

  private def call(port: Int, method: String, route: String,
      body: Array[Byte] = null, contentType: String = "application/json"): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$route").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      val os = conn.getOutputStream
      try os.write(body) finally os.close()
    }
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val text = if (is == null) "" else new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (status, text)
  }

  private def post(route: String, json: String, p: Int = -1): (Int, String) =
    call(if (p < 0) port else p, "POST", route, json.getBytes(StandardCharsets.UTF_8))

  test("GET /health reports model_loaded for valid and missing model dirs") {
    val (s1, b1) = call(port, "GET", "/health")
    assert(s1 == 200 && b1.contains("\"status\":\"healthy\"") &&
      b1.contains("\"model_loaded\":true"), b1)
    val (s2, b2) = call(badPort, "GET", "/health")
    assert(s2 == 200 && b2.contains("\"model_loaded\":false"), b2)
  }

  test("GET /info returns model metadata; 503 ModelNotFoundError when uninitialised") {
    val (s1, b1) = call(port, "GET", "/info")
    assert(s1 == 200 && b1.contains("\"supported_pii_types\"") &&
      b1.contains("\"batch_size\":1000"), b1)
    val (s2, b2) = call(badPort, "GET", "/info")
    assert(s2 == 503 && b2.contains("\"error\":\"ModelNotFoundError\""), s"$s2 $b2")
  }

  test("POST /detect scrubs a single text with the PIIResult shape") {
    val (s, b) = post("/detect", """{"text":"mail me at bob@example.com now"}""")
    assert(s == 200, s"$s $b")
    assert(b.contains("\"has_pii\":true") && b.contains("[REDACTED]") &&
      b.contains("\"pii_types\":[\"EMAIL\"]") && b.contains("\"error\":null"), b)
    assert(b.contains("\"type\":\"EMAIL\"") && b.contains("\"confidence\":1.0"), b)
  }

  test("POST /detect typed-4xx contract: invalid JSON, missing field, wrong type, empty") {
    val (s1, b1) = post("/detect", "this is not json")
    assert(s1 == 400 && b1.contains("InvalidFieldError") && b1.contains("must be valid JSON"), b1)
    val (s2, b2) = post("/detect", """{"other":"x"}""")
    assert(s2 == 400 && b2.contains("MissingFieldError"), b2)
    val (s3, b3) = post("/detect", """{"text":42}""")
    assert(s3 == 400 && b3.contains("expected string, got int"), b3)
    val (s4, b4) = post("/detect", """{"text":"   "}""")
    assert(s4 == 400 && b4.contains("EmptyInputError"), b4)
    val (s5, _) = post("/detect", """{"text":"x"}""", badPort)
    assert(s5 == 503, "uninitialised model must 503")
  }

  test("POST /detect/batch scrubs in-process, index-aligned, with statistics") {
    val (s, b) = post("/detect/batch",
      """{"texts":["call 555-123-4567","clean text",null],"return_stats":true}""")
    assert(s == 200, s"$s $b")
    assert(b.contains("\"results\":["), b)
    assert(b.contains("\"pii_types\":[\"PHONE\"]"), b)
    assert(b.contains("\"total_texts\":3") && b.contains("\"texts_with_pii\":1") &&
      b.contains("\"errors\":1"), b) // null item → per-item error, batch succeeds
    val (s2, b2) = post("/detect/batch", """{"texts":[]}""")
    assert(s2 == 400 && b2.contains("EmptyInputError"), b2)
    val (s3, b3) = post("/detect/batch", """{"texts":"nope"}""")
    assert(s3 == 400 && b3.contains("expected list, got str"), b3)
  }

  test("POST /detect/batch: results[i] equals the /detect reply for text i") {
    val mapper = new ObjectMapper()
    val texts = Seq(
      "mail bob@example.com or call 555-123-4567",
      "host 10.0.0.1 and token ghp_abcdefgh12345678",
      "config password=hunter2hunter2 and 192.168.1.20",
      "nothing sensitive here",
      "a@b.co " + "x" * 50001) // over the 50k cap: a per-item error
    val req = mapper.createObjectNode()
    val arr = req.putArray("texts")
    texts.foreach(t => arr.add(t))
    arr.addNull(); arr.add("")
    val (s, b) = post("/detect/batch", mapper.writeValueAsString(req))
    assert(s == 200, s"$s $b")
    val results = mapper.readTree(b).get("results")
    assert(results.size == texts.length + 2)
    texts.zipWithIndex.foreach { case (t, i) =>
      val (s1, b1) = post("/detect", mapper.writeValueAsString(java.util.Map.of("text", t)))
      assert(s1 == 200, s"$s1 $b1")
      assert(results.get(i) == mapper.readTree(b1), s"text $i")
    }
    val types = results.elements().asScala.flatMap(_.get("pii_types").elements().asScala.map(_.asText())).toSet
    assert(types == Set("EMAIL", "IP_ADDRESS", "PHONE", "SECRET"))
    assert(!results.get(texts.length - 1).get("error").isNull)
    // null and empty items stay per-item errors
    assert(!results.get(texts.length).get("error").isNull &&
      !results.get(texts.length + 1).get("error").isNull)
  }

  private def multipart(fields: Seq[(String, String, Array[Byte])]): (Array[Byte], String) = {
    val boundary = "graftBoundary42"
    val out = new java.io.ByteArrayOutputStream()
    fields.foreach { case (name, filename, body) =>
      out.write(s"--$boundary\r\n".getBytes(StandardCharsets.US_ASCII))
      val fn = if (filename == null) "" else s"""; filename="$filename""""
      out.write(s"""Content-Disposition: form-data; name="$name"$fn\r\n\r\n"""
        .getBytes(StandardCharsets.US_ASCII))
      out.write(body)
      out.write("\r\n".getBytes(StandardCharsets.US_ASCII))
    }
    out.write(s"--$boundary--\r\n".getBytes(StandardCharsets.US_ASCII))
    (out.toByteArray, s"multipart/form-data; boundary=$boundary")
  }

  test("POST /detect/file: txt upload returns per-line results + statistics") {
    val txt = "contact alice@test.org here\nplain line\n\nip is 10.0.0.1\n"
    val (body, ct) = multipart(Seq(("file", "notes.txt", txt.getBytes(StandardCharsets.UTF_8))))
    val (s, b) = call(port, "POST", "/detect/file", body, ct)
    assert(s == 200, s"$s $b")
    assert(b.contains("\"file_type\":\"txt\"") && b.contains("\"filename\":\"notes.txt\""), b)
    assert(b.contains("\"line\":1") && b.contains("\"line\":3"), b) // blank line skipped
    assert(b.contains("\"pii_types\":[\"EMAIL\"]") && b.contains("\"pii_types\":[\"IP_ADDRESS\"]"), b)
    assert(b.contains("\"total_texts\":3"), b)
  }

  test("POST /detect/file: csv upload returns cell results, redacted records, columns") {
    val csv = "name,email\nBob,bob@x.io\nAnn,none here\n"
    val (body, ct) = multipart(Seq(
      ("file", "people.csv", csv.getBytes(StandardCharsets.UTF_8)),
      ("columns", null, "email".getBytes(StandardCharsets.UTF_8))))
    val (s, b) = call(port, "POST", "/detect/file", body, ct)
    assert(s == 200, s"$s $b")
    assert(b.contains("\"file_type\":\"csv\"") &&
      b.contains("\"columns_processed\":[\"email\"]"), b)
    assert(b.contains("\"column\":\"email\"") && b.contains("\"original_value\":\"bob@x.io\""), b)
    assert(b.contains("\"redacted_records\":[{\"name\":\"Bob\",\"email\":\"[REDACTED]\"}"), b)
  }

  test("POST /detect/file typed-4xx: missing file, unsupported extension, bad column") {
    val (b1, ct1) = multipart(Seq(("other", null, "x".getBytes)))
    val (s1, r1) = call(port, "POST", "/detect/file", b1, ct1)
    assert(s1 == 400 && r1.contains("MissingFieldError"), r1)
    val (b2, ct2) = multipart(Seq(("file", "evil.exe", "MZ".getBytes)))
    val (s2, r2) = call(port, "POST", "/detect/file", b2, ct2)
    assert(s2 == 400 && r2.contains("UnsupportedFileTypeError"), r2)
    val (b3, ct3) = multipart(Seq(
      ("file", "d.csv", "a,b\n1,2\n".getBytes),
      ("columns", null, "nope".getBytes)))
    val (s3, r3) = call(port, "POST", "/detect/file", b3, ct3)
    assert(s3 == 400 && r3.contains("InvalidFieldError") && r3.contains("nope"), r3)
    assert(r3.contains("\"message\":\"Invalid value for field 'columns': Column(s) ['nope'] " +
      "not found in csv file 'd.csv'. Available columns: ['a', 'b']\""), r3)
    val (s4, _) = call(badPort, "POST", "/detect/file", b1, ct1)
    assert(s4 == 503, "uninitialised model must 503 before parsing")
  }

  test("stop() shuts down the server's named worker threads") {
    val srv = new HttpApi(spark, "/nonexistent-model-dir")
    val p = srv.start()
    (1 to 6).foreach(_ => call(p, "GET", "/health"))
    def workers = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(s"graft-http-$p-"))
    val seen = workers
    assert(seen.nonEmpty, "worker threads carry the server's port in their name")
    srv.stop()
    seen.foreach(_.join(10000))
    assert(workers.isEmpty, workers.map(_.getName))
  }

  test("wrong method yields 405, not a handler crash") {
    val (s, b) = call(port, "GET", "/detect")
    assert(s == 405 && b.contains("MethodNotAllowed"), s"$s $b")
  }
}
