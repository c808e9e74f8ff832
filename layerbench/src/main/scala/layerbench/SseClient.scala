package layerbench

import java.io.InputStream
import java.net.{HttpURLConnection, URI, URL}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, Flow}
import scala.collection.mutable.ArrayBuffer

/** One received data frame. `arrivalNs` is `System.nanoTime` when the
  * frame's terminating blank line was parsed.
  */
final case class Frame(id: Long, event: String, data: String, arrivalNs: Long)

/** Accumulates SSE lines into frames; keepalive frames and comment lines
  * are dropped, as a client would.
  */
private final class FrameParser(onFrame: Frame => Unit) {
  private var id = ""
  private var event = ""
  private var data: String = null
  private var bytes = 0L

  def totalBytes: Long = bytes

  def line(s: String, nowNs: Long): Unit = {
    bytes += s.length + 1
    if (s.isEmpty) {
      if (data != null && event != "keepalive") onFrame(Frame(id.toLong, event, data, nowNs))
      id = ""; event = ""; data = null
    } else if (s.startsWith("id: ")) id = s.substring(4)
    else if (s.startsWith("event: ")) event = s.substring(7)
    else if (s.startsWith("data: ")) data = s.substring(6)
  }
}

/** A blocking SSE connection read on the caller's thread (the catch-up
  * clients: each waits for its own frames).
  */
final class BlockingSse(port: Int, query: String, readTimeoutMs: Int) {
  private val conn = new URL(s"http://127.0.0.1:$port/?$query")
    .openConnection().asInstanceOf[HttpURLConnection]
  conn.setReadTimeout(readTimeoutMs)
  private var in: InputStream = _
  private val buf = new Array[Byte](1 << 16)
  private var pos = 0
  private var lim = 0
  private var line = new Array[Byte](1 << 12)
  private var pending: Frame = null
  private val parser = new FrameParser(f => pending = f)

  def bytesRead: Long = parser.totalBytes

  /** Sends the request; returns the HTTP status. */
  def open(): Int = {
    val code = conn.getResponseCode
    if (code == 200) in = conn.getInputStream
    code
  }

  /** The next data frame, or null at end of stream. */
  def next(): Frame = {
    pending = null
    while (pending == null) {
      var n = 0
      var eol = false
      while (!eol) {
        if (pos == lim) {
          lim = in.read(buf)
          pos = 0
          if (lim <= 0) { lim = 0; return null }
        }
        val b = buf(pos); pos += 1
        if (b == '\n') eol = true
        else {
          if (n == line.length) line = java.util.Arrays.copyOf(line, n * 2)
          line(n) = b; n += 1
        }
      }
      parser.line(new String(line, 0, n, StandardCharsets.UTF_8), System.nanoTime())
    }
    pending
  }

  def close(): Unit = {
    try if (in != null) in.close() catch { case _: Exception => () }
    conn.disconnect()
  }
}

/** Live clients: several SSE connections whose lines are all handled by
  * one reader thread (the HTTP client's single-thread executor), as a
  * dashboard holding a few feeds open would.
  */
final class LiveClients(port: Int, queries: Seq[String]) {
  private val exec = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "layerbench-sse-reader"); t.setDaemon(true); t
  }
  private val client = HttpClient.newBuilder().executor(exec)
    .version(HttpClient.Version.HTTP_1_1).build()
  /** Frames per connection; each buffer is written only by the reader
    * thread and read after [[close]].
    */
  val frames: IndexedSeq[ArrayBuffer[Frame]] = queries.map(_ => ArrayBuffer[Frame]()).toIndexedSeq
  private val parsers = frames.map(b => new FrameParser(f => b.synchronized(b += f)))
  @volatile private var subs: Seq[Flow.Subscription] = Nil

  def start(): Unit = queries.zipWithIndex.foreach { case (q, i) =>
    val sub = new Flow.Subscriber[String] {
      override def onSubscribe(s: Flow.Subscription): Unit = {
        LiveClients.this.synchronized { subs = subs :+ s }
        s.request(Long.MaxValue)
      }
      override def onNext(line: String): Unit = parsers(i).line(line, System.nanoTime())
      override def onError(t: Throwable): Unit = ()
      override def onComplete(): Unit = ()
    }
    client.sendAsync(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/?$q")).GET().build(),
      HttpResponse.BodyHandlers.fromLineSubscriber(sub))
  }

  def received(i: Int): Int = frames(i).synchronized(frames(i).size)

  def bytes: Long = parsers.map(_.totalBytes).sum

  def close(): Unit = {
    subs.foreach(s => try s.cancel() catch { case _: Exception => () })
    exec.shutdownNow()
  }
}
