package graft.streaming

import graft.SparkTestSession
import graft.sources.RedditLog
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.GZIPInputStream
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Edge behaviors of the SSE delivery layer beyond the core wire tests
  * (SseServerSpec): plan-level per-type source pruning, admission-bounded
  * fan-out batches, the per-IP connection cap, and gzip streaming.
  */
class SseServerEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rcRow(i: Long, author: String = "u"): Map[String, Any] = Map(
    "id" -> i, "event" -> "rc", "created_utc" -> (1000L + i),
    "author" -> author, "subreddit" -> "news", "domain" -> null,
    "over_18" -> null, "is_self" -> null, "json" -> s"""{"n":$i}""")

  /** Read SSE frames over raw HTTP until n frames or timeout.
    *
    * Byte-level reads on purpose: wrapping a streaming GZIPInputStream
    * in an InputStreamReader blocks on the reader's internal fill even
    * when decoded bytes are available, so the line-oriented client the
    * core spec uses would hang on a gzip stream (server-side flushing is
    * fine — verified with raw socket reads).
    */
  private def readFrames(port: Int, path: String, n: Int,
      timeoutMs: Long = 60000, gzip: Boolean = false,
      headers: Map[String, String] = Map.empty): Seq[String] = {
    val conn = new URL(s"http://localhost:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(timeoutMs.toInt)
    if (gzip) conn.setRequestProperty("Accept-Encoding", "gzip")
    headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
    val in = if (gzip) new GZIPInputStream(conn.getInputStream) else conn.getInputStream
    val frames = ArrayBuffer[String]()
    try {
      val buf = new Array[Byte](8192)
      val acc = new StringBuilder
      val deadline = System.currentTimeMillis() + timeoutMs
      while (frames.size < n && System.currentTimeMillis() < deadline) {
        val r = in.read(buf)
        if (r < 0) return frames.toSeq
        acc.append(new String(buf, 0, r, StandardCharsets.UTF_8))
        var idx = acc.indexOf("\n\n")
        while (idx >= 0 && frames.size < n) {
          val f = acc.substring(0, idx + 1) // keep the final line's \n
          // liveness-probe comment frames are protocol-invisible
          if (!f.startsWith(":")) frames += f
          acc.delete(0, idx + 2)
          idx = acc.indexOf("\n\n")
        }
      }
      frames.toSeq
    } catch {
      case _: java.net.SocketTimeoutException => frames.toSeq
    } finally { in.close(); conn.disconnect() }
  }

  test("per-type pruning: a comments-only fleet never touches the rs log") {
    val rcDir = Files.createTempDirectory("prune-rc").toString
    val rsDir = Files.createTempDirectory("prune-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    RedditLog.writeSegment(rsDir, Seq(Map(
      "id" -> 1L, "event" -> "rs", "created_utc" -> 2000L,
      "author" -> "u", "subreddit" -> "news", "domain" -> "ex.com",
      "over_18" -> "false", "is_self" -> "true", "json" -> """{"t":"x"}""")))
    val before = RedditLog.metadataReads(rsDir)
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L).start()
    try {
      val t = new Thread(() => {
        // append only once the connection is fully attached (cold-start
        // query bring-up can take seconds; an earlier append would be
        // legitimately "before connect" and skipped)
        val deadline = System.currentTimeMillis() + 30000
        while (server.readyConnections < 1 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        RedditLog.writeSegment(rcDir, Seq(rcRow(2)))
      })
      t.start()
      // live-only comments client: mask query reads rc only, no rs
      // maxId read at connect, no catch-up scan
      val frames = readFrames(server.boundPort, "/?type=comments", 1)
      t.join()
      assert(frames.exists(_.startsWith("id: 2\nevent: rc")), frames.mkString("|"))
      assert(RedditLog.metadataReads(rsDir) == before,
        "rs log was listed by a comments-only fleet")
      // exactly one shared query runs, and it is the rc-mask one
      // (names carry a per-server instance suffix after the dot)
      assert(server.activeQueries.map(_.name.takeWhile(_ != '.')) == Seq("graft-sse-feed-rc"))
    } finally server.stop()
  }

  test("admission control bounds fan-out batches: backlog drains in max_per_trigger-sized micro-batches") {
    val rcDir = Files.createTempDirectory("adm-rc").toString
    val rsDir = Files.createTempDirectory("adm-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L,
      maxPerTrigger = 2000L).start()
    try {
      val total = 12000
      val writer = new Thread(() => {
        // wait until all 4 clients are attached to the live feed
        val deadline = System.currentTimeMillis() + 30000
        while (server.readyConnections < 4 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        // one big append: 12 000 events over 4 authors — far more than
        // one admission quantum, so the source must slice it
        (0 until 3).foreach { k =>
          RedditLog.writeSegment(rcDir,
            ((k * 4000 + 2).toLong to (k * 4000 + 4001).toLong)
              .map(i => rcRow(i, s"a${i % 4}")))
        }
      })
      writer.start()
      // 4 concurrent clients, each whitelisting one author → each must
      // receive its full 3 000-frame slice
      val results = new Array[Seq[String]](4)
      val clients = (0 until 4).map { a =>
        val th = new Thread(() => {
          results(a) = readFrames(server.boundPort, s"/?type=comments&author=a$a", total / 4)
        })
        th.start()
        th
      }
      clients.foreach(_.join(120000))
      writer.join()
      (0 until 4).foreach { a =>
        assert(results(a) != null && results(a).size == total / 4,
          s"client a$a got ${Option(results(a)).map(_.size)} frames")
      }
      // the shared query drained the backlog in admission-sized batches:
      // no micro-batch exceeded max_per_trigger (the fan-out scans each
      // batch exactly once, in its single collect, so the progress
      // counter sees no extra rows), and it took several. Progress
      // events publish asynchronously after delivery — poll for the
      // final one.
      def nonEmptyBatches = server.activeQueries.head.recentProgress.toSeq
        .map(_.numInputRows).filter(_ > 0)
      val progressDeadline = System.currentTimeMillis() + 10000
      while (nonEmptyBatches.size < 6 && System.currentTimeMillis() < progressDeadline)
        Thread.sleep(100)
      val sized = nonEmptyBatches
      assert(sized.nonEmpty && sized.forall(_ <= 2000L),
        s"batch sizes: $sized")
      assert(sized.size >= 6, s"expected ≥6 admission-sized batches, got $sized")
    } finally server.stop()
  }

  test("per-IP connection cap → HTTP 429 (reference edge: nginx limit_conn)") {
    val rcDir = Files.createTempDirectory("cap-rc").toString
    val rsDir = Files.createTempDirectory("cap-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    // LONG keepalive + short liveness probe: dead-client detection (and
    // the per-IP slot release below) must come from the probe cadence,
    // not the keepalive
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L,
      maxConnsPerIp = 1, probeMillis = 500L).start()
    try {
      val first = new URL(s"http://localhost:${server.boundPort}/?type=comments")
        .openConnection().asInstanceOf[HttpURLConnection]
      first.setReadTimeout(30000)
      first.getInputStream // stream open and held
      // give the first connection time to register
      Thread.sleep(500)
      val second = new URL(s"http://localhost:${server.boundPort}/?type=comments")
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(second.getResponseCode == 429)
      val body = new String(second.getErrorStream.readAllBytes(), StandardCharsets.UTF_8)
      assert(body.contains("error"))
      second.disconnect()
      first.disconnect()
      // cap is per-connection-lifetime: once the dropped client's next
      // liveness-probe write fails and releases the slot, a new one is
      // admitted — despite the 60 s keepalive cadence
      Thread.sleep(2500)
      val third = new URL(s"http://localhost:${server.boundPort}/?comment_backfill=10&type=comments")
        .openConnection().asInstanceOf[HttpURLConnection]
      third.setReadTimeout(30000)
      assert(third.getResponseCode == 200)
      third.disconnect()
    } finally server.stop()
  }

  test("Last-Event-ID resumes a single-type stream; explicit params win (superset: reference ignores the header)") {
    val rcDir = Files.createTempDirectory("lei-rc").toString
    val rsDir = Files.createTempDirectory("lei-rs").toString
    RedditLog.writeSegment(rcDir, (1L to 5L).map(i => rcRow(i)))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L).start()
    try {
      val lei = Map("Last-Event-ID" -> "2")
      // reconnect after id 2 → history resumes at 3
      val resumed = readFrames(server.boundPort, "/?type=comments", 3,
        timeoutMs = 30000, headers = lei)
      assert(resumed.map(_.linesIterator.next()) == Seq("id: 3", "id: 4", "id: 5"))
      // explicit start_id wins over the header
      val explicit = readFrames(server.boundPort, "/?type=comments&comment_start_id=5", 1,
        timeoutMs = 30000, headers = lei)
      assert(explicit.map(_.linesIterator.next()) == Seq("id: 5"))
      // ambiguous (both types): header ignored → live-only, no history
      val both = readFrames(server.boundPort, "/", 1, timeoutMs = 3000, headers = lei)
      assert(both.isEmpty || both.forall(_.contains("keepalive")), both.mkString("|"))
    } finally server.stop()
  }

  test("slow-client overflow policy: disconnect mode closes the lagging connection") {
    val rcDir = Files.createTempDirectory("slow-rc").toString
    val rsDir = Files.createTempDirectory("slow-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L,
      queueCapacity = 2, disconnectSlowClients = true).start()
    try {
      // client connects but reads nothing: a 2-slot queue overflows as
      // soon as one micro-batch fans out more than 2 frames faster than
      // the writer drains them
      val conn = new URL(s"http://localhost:${server.boundPort}/?type=comments")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(60000)
      val in = conn.getInputStream
      val deadline = System.currentTimeMillis() + 30000
      while (server.readyConnections < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      RedditLog.writeSegment(rcDir, (2L to 2001L).map(i => rcRow(i)))
      // server closes the connection on overflow → the client's stream
      // TERMINATES instead of silently gapping. Depending on where the
      // close lands relative to a chunk boundary, HttpURLConnection's
      // chunked reader either returns EOF (-1) or throws "Premature
      // EOF" — both ARE the disconnect (observed flaking between the
      // two under suite load); only a read TIMEOUT means the server
      // failed to close.
      val closed = try {
        val buf = new Array[Byte](65536)
        var n = 0
        while (n >= 0) n = in.read(buf)
        true // clean EOF at a chunk boundary
      } catch {
        case _: java.net.SocketTimeoutException => false
        case _: java.io.IOException => true // abrupt close mid-chunk
      }
      assert(closed, "server did not close the lagging connection")
      in.close(); conn.disconnect()
    } finally server.stop()
  }

  test("live-only connections: suppress == boundary even while appends race the connect") {
    // ADVICE r2 (medium): a live-only type has NO catch-up scan, so its
    // suppression threshold must equal the live boundary. The old code
    // re-read maxId AFTER registration — every id appended during
    // connection setup (a multi-second window when the mask query cold-
    // starts) was claimed for a catch-up pass that never runs and
    // dropped by the writer: delivered by neither path. A background
    // appender makes the two reads observably differ under the old code.
    val rcDir = Files.createTempDirectory("thr-rc").toString
    val rsDir = Files.createTempDirectory("thr-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L).start()
    @volatile var stopAppends = false
    val appender = new Thread(() => {
      var i = 2L
      while (!stopAppends) {
        RedditLog.writeSegment(rcDir, Seq(rcRow(i))); i += 1; Thread.sleep(5)
      }
    })
    appender.start()
    try {
      val conn = new URL(s"http://localhost:${server.boundPort}/?type=comments")
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setReadTimeout(60000)
      conn.getInputStream // hold the stream open
      val deadline = System.currentTimeMillis() + 30000
      while (server.readyConnections < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val th = server.connectionThresholds
      assert(th.size == 1)
      val (rcB, rcS, rsB, rsS) = th.head
      assert(rcS == rcB,
        s"live-only rc suppress $rcS != boundary $rcB — the ids in between would be lost")
      assert(rsB == Long.MaxValue && rsS == Long.MaxValue)
      // and the stream's pinned start must cover everything above the
      // boundary: pin − 1 ≤ boundary (a pin read AFTER the boundary
      // leaves (boundary, pin) delivered by neither path — with the
      // racing appender the two reads observably differ if misordered)
      val pin = server.pinnedStart("rc", rcDir)
      assert(pin.isDefined && pin.get - 1 <= rcB,
        s"stream pin ${pin} must be at-or-below boundary $rcB + 1")
      conn.disconnect()
    } finally { stopAppends = true; appender.join(); server.stop() }
  }

  test("dead mask query: the health tick restarts it and attached clients keep receiving") {
    // ADVICE r2: a dead shared query used to be restarted only by the
    // NEXT connection of its mask; until then attached clients were
    // silently blackholed, and the restart re-pinned past the outage.
    // Now the writer loop's health tick restarts it within ~probeMillis
    // and the dead incarnation's progress log supplies the committed
    // offsets, so events appended DURING the outage are delivered.
    val rcDir = Files.createTempDirectory("heal-rc").toString
    val rsDir = Files.createTempDirectory("heal-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L, probeMillis = 300L).start()
    try {
      val t = new Thread(() => {
        val deadline = System.currentTimeMillis() + 30000
        while (server.readyConnections < 1 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        // kill the shared rc query under the attached client, then
        // append while no query is running
        server.activeQueries.foreach(_.stop())
        RedditLog.writeSegment(rcDir, Seq(rcRow(2)))
      })
      t.start()
      val frames = readFrames(server.boundPort, "/?type=comments", 1, timeoutMs = 90000)
      t.join()
      assert(frames.exists(_.startsWith("id: 2\nevent: rc")), frames.mkString("|"))
    } finally server.stop()
  }

  test("counterParity: count-only tap restores A1 counters for pruned masks without frame leakage") {
    val rcDir = Files.createTempDirectory("par-rc").toString
    val rsDir = Files.createTempDirectory("par-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1)))
    RedditLog.writeSegment(rsDir, Seq(Map(
      "id" -> 1L, "event" -> "rs", "created_utc" -> 2000L,
      "author" -> "u", "subreddit" -> "news", "domain" -> "ex.com",
      "over_18" -> "false", "is_self" -> "true", "json" -> """{"t":"x"}""")))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 1500L, triggerMillis = 100L, counterParity = true).start()
    try {
      val t = new Thread(() => {
        val deadline = System.currentTimeMillis() + 30000
        while (server.readyConnections < 1 && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        // 3 live comments passing the whitelist: with the reference's
        // always-scan loop a submissions-only client still COUNTS them
        // (sse.py:179-180) — the tap restores exactly that
        RedditLog.writeSegment(rcDir, (2L to 4L).map(i => rcRow(i)))
      })
      t.start()
      val frames = readFrames(server.boundPort,
        "/?type=submissions&subreddit=news", 10, timeoutMs = 30000)
      t.join()
      // the rc log's frames never reach the client...
      assert(frames.forall(!_.contains("event: rc")), frames.mkString("|"))
      // ...but a keepalive eventually reports them in tcs; tss stays 0
      // (the rs seed predates the connection boundary)
      assert(frames.exists(f => f.contains("keepalive")
        && f.contains("\"tcs\": 3") && f.contains("\"tss\": 0")),
        frames.mkString("|"))
      // one pruned mask feed + one count-only tap, nothing else
      assert(server.activeQueries.map(_.name.takeWhile(_ != '.')).toSet
        == Set("graft-sse-feed-rs", "graft-sse-tap-rc"))
    } finally server.stop()
  }

  test("gzip: Accept-Encoding gzip → compressed stream with identical frame bytes") {
    val rcDir = Files.createTempDirectory("gz-rc").toString
    val rsDir = Files.createTempDirectory("gz-rs").toString
    RedditLog.writeSegment(rcDir, (1L to 5L).map(i => rcRow(i)))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L).start()
    try {
      val plain = readFrames(server.boundPort, "/?comment_backfill=100&type=comments", 5)
      val gz = readFrames(server.boundPort, "/?comment_backfill=100&type=comments", 5, gzip = true)
      assert(gz == plain && gz.size == 5)
      assert(gz.head.startsWith("id: 1\nevent: rc"))
    } finally server.stop()
  }
}
