package graft.serve

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Row, SparkSession}

import graft.api.Detect
import graft.errors._
import graft.ingest.Uploads
import graft.model.Entity
import graft.scrub.Scrubber

/** Minimal HTTP serving layer over the [[graft.api.Detect]] facade — the
  * reference's primary entry point (reference src/api.py:156-556) closed
  * end-to-end: routes `/health` (:214), `/info` (:226), `/detect` (:246),
  * `/detect/batch` (:291), `/detect/file` (:404) map 1:1 onto the library
  * functions, with the reference's error contract (GraftError.toJson
  * bodies; input/field/file-parsing errors → 400, model errors → 503,
  * anything else → 500 InternalServerError; api.py:473-484).
  *
  * Zero external dependencies: the JDK's `com.sun.net.httpserver` plus the
  * Jackson that ships on the Spark classpath. A fixed thread pool mirrors
  * the reference's `gunicorn -w 4` (Makefile:97); Spark itself serialises
  * job submission, so concurrent requests are safe.
  *
  * Serving-scale note: this is the REQUEST-scOPED surface (≤ 1000 texts or
  * one ≤ 50 MB upload per call, same caps as the reference). The corpus-
  * scale path is the library surface itself (QualityFilter / scrubGrid
  * over tables) — a REST hop per row would be the wrong architecture at
  * 10^12 files, exactly as the reference separates api.py from
  * run_data_pipeline.py.
  */
final class HttpApi(spark: SparkSession, modelDir: String, poolSize: Int = 4) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** Bind and start; `port = 0` picks an ephemeral port. Returns the
    * actual bound port.
    */
  def start(port: Int = 0): Int = synchronized {
    require(server == null, "server already started")
    HttpApi.noDelay()
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(Executors.newFixedThreadPool(poolSize))
    server.createContext("/health", route("GET", health))
    server.createContext("/info", route("GET", info))
    server.createContext("/detect/batch", route("POST", detectBatch))
    server.createContext("/detect/file", route("POST", detectFile))
    server.createContext("/detect", route("POST", detectSingle))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }

  // ------------------------------------------------------------------
  // Routing / error contract
  // ------------------------------------------------------------------
  /** The reference's `detector is None` guard: model dir validates. */
  private def modelLoaded: Boolean =
    try { graft.io.ModelArtifacts.validateModelDir(spark, modelDir); true }
    catch { case _: GraftError => false }

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

  /** POST /detect/batch (api.py:291-345) — the Spark path
    * (Detect.detectBatch), results index-aligned with the input.
    */
  private def detectBatch(ex: HttpExchange): Unit = {
    if (!modelLoaded) throw ModelNotFoundError("(not initialised)")
    val body = jsonBody(ex)
    if (!body.has("texts")) throw MissingFieldError("texts")
    val node = body.get("texts")
    if (!node.isArray)
      throw InvalidFieldError("texts", s"expected list, got ${pyType(node)}")
    // a non-string item becomes null → a per-item error row, never a
    // failed batch (src/inference.py:355-421 contract)
    val texts = node.elements().asScala.map(n =>
      if (n.isTextual) n.asText() else null).toSeq
    val returnStats = body.has("return_stats") && body.get("return_stats").asBoolean(false)
    val rows = Detect.detectBatch(spark, texts).collect() // throws typed 4xx on empty/oversized
    val results = rows.map(rowResultDict)
    val resp = linked("results" -> results.toSeq)
    if (returnStats) resp.put("statistics",
      toJava(statisticsDict(rows.map(r => (r.getAs[Boolean]("hasPii"),
        r.getAs[scala.collection.Seq[String]]("piiTypes").toSeq,
        r.getAs[String]("error"))))))
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
      val dot = safe.lastIndexOf('.')
      val ext = if (dot < 0) "" else safe.substring(dot + 1).toLowerCase
      ext match {
        case "txt" =>
          val rows = Detect.detectUpload(spark, path.toString).collect()
          val results = rows.zipWithIndex.map { case (r, i) =>
            val d = linked("line" -> (i + 1),
              "original_text" -> r.getAs[String]("line"))
            d.putAll(rowResultDict(r)); d
          }
          send(ex, 200, linked(
            "filename" -> safe, "file_type" -> "txt",
            "results" -> results.toSeq,
            "statistics" -> statisticsDict(rows.map(r =>
              (r.getAs[Boolean]("hasPii"),
                r.getAs[scala.collection.Seq[String]]("piiTypes").toSeq,
                r.getAs[String]("error"))))))
        case "csv" | "xlsx" =>
          val df =
            if (ext == "csv")
              try Uploads.readCsv(spark, path.toString)
              catch {
                case e: GraftError => throw e
                case e: Exception => throw CSVParsingError(safe, String.valueOf(e.getMessage))
              }
            else
              try Uploads.readXlsx(spark, path.toString)
              catch {
                case e: GraftError => throw e
                case e: Exception => throw ExcelParsingError(safe, String.valueOf(e.getMessage))
              }
          val kind = if (ext == "csv") "csv" else "excel"
          val processed = Uploads.resolveColumns(df, columns, safe,
            if (ext == "csv") "CSV" else "Excel")
          val header = df.columns.toSeq
          val grid = df.collect() // bounded by the 50 MB upload cap
          val cellResults = for {
            (row, ri) <- grid.zipWithIndex
            c <- processed
          } yield {
            val orig = row.getAs[String](c)
            (ri, c, orig, Scrubber.scrub(orig))
          }
          val results = cellResults.map { case (ri, c, orig, r) =>
            linked("row" -> ri, "column" -> c, "original_value" -> orig,
              "has_pii" -> r.hasPii, "redacted_value" -> r.scrubbed,
              "pii_types" -> r.piiTypes, "entities" -> r.entities.map(entityDict),
              "error" -> r.error)
          }
          // redacted grid: processed cells carry the scrub output (original
          // kept on per-cell error — scrubGrid's documented semantics);
          // untouched columns pass through
          val byCell = cellResults.map { case (ri, c, orig, r) =>
            (ri, c) -> (if (r.error != null) orig else r.scrubbed)
          }.toMap
          val records = grid.zipWithIndex.map { case (row, ri) =>
            val rec = new java.util.LinkedHashMap[String, Object]()
            header.foreach { c =>
              rec.put(c, byCell.getOrElse((ri, c), row.getAs[String](c)))
            }
            rec
          }
          send(ex, 200, linked(
            "filename" -> safe, "file_type" -> kind,
            "columns_processed" -> processed,
            "results" -> results.toSeq,
            "redacted_records" -> records.toSeq,
            "statistics" -> statisticsDict(cellResults.map { case (_, _, _, r) =>
              (r.hasPii, r.piiTypes, r.error)
            })))
        case other =>
          throw UnsupportedFileTypeError(safe, if (other.isEmpty) "" else s".$other")
      }
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

  /** PIIResult.to_dict shape (src/inference.py:66-67). */
  private def resultDict(r: Scrubber.ScrubResult) = linked(
    "has_pii" -> r.hasPii, "redacted_text" -> r.scrubbed,
    "pii_types" -> r.piiTypes, "entities" -> r.entities.map(entityDict),
    "error" -> r.error)

  /** Same shape from a Detect.detectBatch / detectUpload(txt) row. */
  private def rowResultDict(r: Row) = {
    val ents = r.getAs[scala.collection.Seq[Row]]("entities").toSeq.map(er => linked(
      "text" -> er.getAs[String]("text"), "type" -> er.getAs[String]("type"),
      "start" -> er.getAs[Int]("start"), "end" -> er.getAs[Int]("end"),
      "confidence" -> er.getAs[Double]("confidence")))
    linked("has_pii" -> r.getAs[Boolean]("hasPii"),
      "redacted_text" -> r.getAs[String]("redactedText"),
      "pii_types" -> r.getAs[scala.collection.Seq[String]]("piiTypes").toSeq,
      "entities" -> ents, "error" -> r.getAs[String]("error"))
  }

  /** get_pii_statistics shape (src/inference.py:190-205): distribution is
    * a count-descending object, ties in first-seen order (python's stable
    * sort over dict insertion order).
    */
  private def statisticsDict(rs: Seq[(Boolean, Seq[String], String)]) = {
    val total = rs.length
    val withPii = rs.count(_._1)
    val counts = scala.collection.mutable.LinkedHashMap[String, Long]()
    rs.foreach(_._2.foreach(t => counts.update(t, counts.getOrElse(t, 0L) + 1)))
    val dist = new java.util.LinkedHashMap[String, Object]()
    counts.toSeq.sortBy(-_._2).foreach { case (t, c) => dist.put(t, Long.box(c)) }
    val rate =
      if (total == 0) 0.0
      else BigDecimal(withPii.toDouble / total)
        .setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toDouble
    linked("total_texts" -> total, "texts_with_pii" -> withPii,
      "texts_without_pii" -> (total - withPii), "pii_rate" -> rate,
      "pii_type_distribution" -> dist, "errors" -> rs.count(_._3 != null))
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
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** `com.sun.net.httpserver` sends a response's head and body in two
    * writes, and without TCP_NODELAY unless this property is set before its
    * first server is created. A client that delays its ACK then holds each
    * body back ≈40 ms on a kept-alive connection. A value the user set wins.
    */
  private def noDelay(): Unit =
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
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
