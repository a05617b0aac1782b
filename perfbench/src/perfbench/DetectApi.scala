package perfbench

import java.io.BufferedInputStream
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** HTTP load on the in-process server over at most `clients` keep-alive
  * connections: open-loop `/detect` and `/detect/batch` requests, due on
  * fixed schedules whatever the server does and timed from their due time,
  * plus one closed-loop client sending `/detect` back to back.
  */
object DetectApi {
  final case class Text(text: String, gold: String)

  final case class Sample(route: String, dueNs: Long, sentNs: Long, doneNs: Long) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def lateMs: Double = (sentNs - dueNs) / 1e6
  }

  private val mapper = new ObjectMapper()

  /** One persistent HTTP/1.1 connection, kept alive between requests as
    * HTTP/1.1 clients do by default. It is opened on first use and again
    * after the server closes it. Each request leaves in one write with
    * TCP_NODELAY.
    */
  final class Conn(port: Int, timeoutMs: Int = 30000) extends AutoCloseable {
    private var sock: Socket = _
    private var in: BufferedInputStream = _

    def open(): Unit = if (sock == null) {
      sock = new Socket("127.0.0.1", port)
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(timeoutMs)
      in = new BufferedInputStream(sock.getInputStream)
    }

    def close(): Unit = if (sock != null) { sock.close(); sock = null; in = null }

    private def line(route: String): String = {
      val sb = new StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException(s"$route: connection closed mid-response")
        if (c != '\r') sb += c.toChar
        c = in.read()
      }
      sb.result()
    }

    /** POSTs a JSON `body`; returns (status, response text). */
    def post(route: String, body: String): (Int, String) = {
      open()
      try {
        val b = body.getBytes(StandardCharsets.UTF_8)
        val head = s"POST $route HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
          s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
        sock.getOutputStream.write(head.getBytes(StandardCharsets.US_ASCII) ++ b)
        val status = line(route).split(" ")(1).toInt
        var length = -1
        var closing = false
        var h = line(route)
        while (h.nonEmpty) {
          val i = h.indexOf(':')
          val (k, v) = (h.substring(0, i).trim, h.substring(i + 1).trim)
          if (k.equalsIgnoreCase("content-length")) length = v.toInt
          if (k.equalsIgnoreCase("connection") && v.equalsIgnoreCase("close")) closing = true
          h = line(route)
        }
        if (length < 0) throw new java.io.IOException(s"$route answered without Content-Length")
        val resp = new String(in.readNBytes(length), StandardCharsets.UTF_8)
        if (closing) close()
        (status, resp)
      } catch { case e: Throwable => close(); throw e }
    }
  }

  def detectBody(t: Text): String =
    mapper.writeValueAsString(Map("text" -> t.text).asJava)

  def batchBody(ts: Seq[Text]): String =
    mapper.writeValueAsString(Map("texts" -> ts.map(_.text).asJava).asJava)

  /** Redacted texts of a 200 response, in order; problems otherwise. */
  def redacted(route: String, status: Int, body: String): Either[String, Vector[String]] =
    if (status != 200) Left(s"$route answered $status: ${body.take(120)}")
    else {
      val n = mapper.readTree(body)
      if (route == "/detect") Right(Vector(n.path("redacted_text").asText(null)))
      else Right(n.path("results").elements().asScala.map(_.path("redacted_text").asText(null)).toVector)
    }

  /** Problems with one response against the gold texts it was sent. */
  def check(route: String, status: Int, body: String, sent: Seq[Text],
      corrupt: Option[String]): Seq[String] =
    redacted(route, status, body) match {
      case Left(p) => Seq(p)
      case Right(got0) =>
        val got = Corrupt.rows(corrupt, got0)(keep = identity, redact = _ + " ")
        if (got.length != sent.length) Seq(s"$route returned ${got.length} results for ${sent.length} texts")
        else {
          val bad = got.zip(sent).count { case (g, t) => g != t.gold }
          if (bad > 0) Seq(s"$route: $bad redacted texts differ from gold") else Nil
        }
    }

  /** One planned request: route, due offset, the texts it carries and
    * its body, serialised before the clock starts.
    */
  final case class Planned(route: String, dueOffsetNs: Long, texts: Seq[Text]) {
    val body: String = if (route == "/detect") detectBody(texts.head) else batchBody(texts)
  }

  /** Fixed-rate schedules for both routes over `seconds`; window `round`
    * continues through the texts where the previous window stopped.
    */
  def plan(texts: Vector[Text], seconds: Double, batchSize: Int, round: Int): Vector[Planned] = {
    import Run.{BatchRate => batchRate, DetectRate => detectRate}
    val nDetect = (seconds * detectRate).toInt
    val nBatch = (seconds * batchRate).toInt
    val single = Vector.tabulate(nDetect)(i =>
      Planned("/detect", (i * 1e9 / detectRate).toLong,
        Seq(texts((round * nDetect + i) % texts.length))))
    val batch = Vector.tabulate(nBatch)(j =>
      Planned("/detect/batch", ((j + 0.5) * 1e9 / batchRate).toLong,
        Vector.tabulate(batchSize)(k => texts(((round * nBatch + j) * batchSize + k) % texts.length))))
    (single ++ batch).sortBy(_.dueOffsetNs)
  }

  /** Route name of the samples of the back-to-back client (see [[run]]). */
  val SeqRoute = "/detect seq"

  /** Sends `planned` open-loop over `clients - 1` keep-alive connections,
    * opened before the clock starts. A request due while every connection
    * is busy waits for the first free one; its latency still counts from
    * its due time. Meanwhile one more keep-alive client sends `/detect`
    * back to back, as a user of a sequential HTTP client does; its requests
    * have a negative due offset, their samples have route [[SeqRoute]] and
    * count from their send time. `onDone` sees each completed request.
    */
  def run(port: Int, planned: Vector[Planned], clients: Int,
      onDone: (Planned, Sample, Int, String) => Unit,
      onError: (Planned, Throwable) => Unit): Unit = {
    val conns = Vector.fill(math.max(1, clients - 1))(new Conn(port))
    val seqConn = new Conn(port)
    val due = new LinkedBlockingQueue[Option[(Planned, Long)]]()
    val sending = new AtomicBoolean(true)
    val pool = Executors.newFixedThreadPool(conns.length + 1)
    def send(c: Conn, p: Planned, at: Long): Unit = {
      val sent = System.nanoTime()
      try {
        val (status, resp) = c.post(p.route, p.body)
        val sample =
          if (p.dueOffsetNs < 0) Sample(SeqRoute, sent, sent, System.nanoTime())
          else Sample(p.route, at, sent, System.nanoTime())
        onDone(p, sample, status, resp)
      } catch { case e: Throwable => onError(p, e) }
    }
    try {
      (seqConn +: conns).foreach(_.open())
      conns.foreach { c =>
        pool.execute { () =>
          var next = due.take()
          while (next.isDefined) {
            send(c, next.get._1, next.get._2)
            next = due.take()
          }
        }
      }
      val singles = planned.filter(_.route == "/detect").map(_.copy(dueOffsetNs = -1L))
      pool.execute { () =>
        var i = 0
        while (sending.get) {
          send(seqConn, singles(i % singles.length), -1L)
          i += 1
        }
      }
      val start = System.nanoTime() + 20000000L
      planned.foreach { p =>
        val at = start + p.dueOffsetNs
        var wait = at - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = at - System.nanoTime() }
        due.put(Some((p, at)))
      }
    } finally {
      sending.set(false)
      conns.foreach(_ => due.put(None))
      pool.shutdown()
      if (!pool.awaitTermination(120, TimeUnit.SECONDS)) pool.shutdownNow()
      (seqConn +: conns).foreach(_.close())
    }
  }
}
