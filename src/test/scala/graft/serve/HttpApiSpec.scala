package graft.serve

import java.io.{BufferedInputStream, DataInputStream}
import java.net.{HttpURLConnection, Socket, URI}
import java.nio.charset.StandardCharsets

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

  test("POST /detect/batch runs the Spark path, index-aligned, with statistics") {
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
    val (s4, _) = call(badPort, "POST", "/detect/file", b1, ct1)
    assert(s4 == 503, "uninitialised model must 503 before parsing")
  }

  test("wrong method yields 405, not a handler crash") {
    val (s, b) = call(port, "GET", "/detect")
    assert(s == 405 && b.contains("MethodNotAllowed"), s"$s $b")
  }

  test("back-to-back POST /detect on one kept-alive connection is not held by delayed ACKs") {
    val body = """{"text":"mail me at bob@example.com now"}""".getBytes(StandardCharsets.UTF_8)
    val request = (s"POST /detect HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(StandardCharsets.US_ASCII) ++ body
    val sock = new Socket("127.0.0.1", port)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(10000)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
      def line(): String = {
        val sb = new StringBuilder
        var c = in.read()
        while (c != '\n') { assert(c >= 0, "connection closed"); if (c != '\r') sb += c.toChar; c = in.read() }
        sb.result()
      }
      // one request in one write; the response read in full, leaving the connection open
      def roundTripMs(): Double = {
        val t0 = System.nanoTime()
        sock.getOutputStream.write(request)
        assert(line().startsWith("HTTP/1.1 200"))
        var length = -1
        var h = line()
        while (h.nonEmpty) {
          if (h.toLowerCase.startsWith("content-length:")) length = h.substring(15).trim.toInt
          h = line()
        }
        val resp = new Array[Byte](length)
        in.readFully(resp)
        assert(new String(resp, StandardCharsets.UTF_8).contains("[REDACTED]"))
        (System.nanoTime() - t0) / 1e6
      }
      (0 until 5).foreach(_ => roundTripMs()) // warm-up
      val ms = Vector.fill(25)(roundTripMs()).sorted
      // a delayed ACK stalls each response ≈40 ms; served at once, it takes a few
      assert(ms(ms.length / 2) < 15.0, s"median ${ms(ms.length / 2)} ms of ${ms.mkString(", ")}")
    } finally sock.close()
  }
}
