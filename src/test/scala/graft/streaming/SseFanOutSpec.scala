package graft.streaming

import graft.SparkTestSession
import graft.api.ParamSpec
import graft.operators.RedditOps
import graft.sources.RedditLog
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The live fan-out's batch shape: one Spark job per feed micro-batch,
  * and the frames and counters that job yields for connections with
  * different payload projections sharing one mask.
  */
class SseFanOutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def rcRow(i: Long, created: Long, sub: String): Map[String, Any] = Map(
    "id" -> i, "event" -> "rc", "created_utc" -> created,
    "author" -> s"u$i", "subreddit" -> sub, "domain" -> null,
    "over_18" -> null, "is_self" -> null,
    "json" -> s"""{"author":"u$i","body":"b$i","n":$i}""")

  /** Raw SSE frames, each with its terminating blank line, read until
    * `done(frames)` holds or the timeout passes; liveness-probe comment
    * frames are skipped like a real client would.
    */
  private def readUntil(port: Int, path: String, timeoutMs: Long = 60000)(
      done: Seq[String] => Boolean): Seq[String] = {
    val conn = new URL(s"http://localhost:$port$path")
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(timeoutMs.toInt)
    val in = conn.getInputStream
    val frames = ArrayBuffer[String]()
    try {
      val buf = new Array[Byte](8192)
      val acc = new StringBuilder
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!done(frames.toSeq) && System.currentTimeMillis() < deadline) {
        val r = in.read(buf)
        if (r < 0) return frames.toSeq
        acc.append(new String(buf, 0, r, StandardCharsets.UTF_8))
        var idx = acc.indexOf("\n\n")
        while (idx >= 0) {
          val f = acc.substring(0, idx + 2)
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

  private def awaitReady(server: SseServer, n: Int): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    while (server.readyConnections < n && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  private def isData(f: String) = f.contains("\nevent: rc\n")

  /** Keepalive after the `n`th data frame: by then every batch that
    * carried those frames has bumped the counters it reports.
    */
  private def dataThenKeepalive(n: Int)(fs: Seq[String]): Boolean = {
    val lastData = fs.lastIndexWhere(isData)
    fs.count(isData) >= n && fs.drop(lastData + 1).exists(_.contains("event: keepalive"))
  }

  test("one Spark job per live feed micro-batch, whatever the fleet's projections") {
    val rcDir = Files.createTempDirectory("jobs-rc").toString
    val rsDir = Files.createTempDirectory("jobs-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1, 1001L, "news")))
    val jobQueryIds = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(jobQueryIds.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 60000L, triggerMillis = 100L).start()
    try {
      val appends = 4
      val writer = new Thread(() => {
        awaitReady(server, 2)
        // separate segments a few triggers apart: several batches run
        (0 until appends).foreach { k =>
          RedditLog.writeSegment(rcDir, (0 until 5).map { j =>
            val i = 2L + k * 5 + j
            rcRow(i, 2000L + k * 100 - j, if (i % 2 == 0) "news" else "funny")
          })
          Thread.sleep(400)
        }
      })
      writer.start()
      val clients = Seq(
        "/?type=comments&subreddit=news" -> appends * 5 / 2,
        "/?type=comments&filter=body" -> appends * 5)
      val got = new Array[Seq[String]](clients.size)
      val threads = clients.zipWithIndex.map { case ((path, n), k) =>
        val th = new Thread(() => {
          got(k) = readUntil(server.boundPort, path)(_.count(isData) >= n)
        })
        th.start()
        th
      }
      threads.foreach(_.join(90000))
      writer.join()
      clients.zipWithIndex.foreach { case ((path, n), k) =>
        assert(got(k) != null && got(k).count(isData) == n, s"$path: ${got(k)}")
      }
      val feed = server.activeQueries
        .find(_.name.startsWith("graft-sse-feed-rc")).get
      val feedId = feed.id.toString
      // progress and job events publish asynchronously: wait until both
      // have been still for a second
      def snapshot = (feed.recentProgress.length, jobQueryIds.asScala.count(_ == feedId))
      var last = snapshot
      var stillSince = System.currentTimeMillis()
      val deadline = System.currentTimeMillis() + 15000
      while (System.currentTimeMillis() - stillSince < 1000 && System.currentTimeMillis() < deadline) {
        Thread.sleep(100)
        val now = snapshot
        if (now != last) { last = now; stillSince = System.currentTimeMillis() }
      }
      val batchesRun = feed.recentProgress.count(_.durationMs.containsKey("addBatch"))
      val jobs = jobQueryIds.asScala.count(_ == feedId)
      assert(batchesRun >= 2, s"expected several feed batches, got $batchesRun")
      assert(jobs <= batchesRun, s"$jobs feed jobs over $batchesRun batches")
    } finally {
      server.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("mixed projections in one mask: frames equal the batch model in O1 order, counters the A1 model") {
    val rcDir = Files.createTempDirectory("mix-rc").toString
    val rsDir = Files.createTempDirectory("mix-rs").toString
    RedditLog.writeSegment(rcDir, Seq(rcRow(1, 1001L, "news")))
    val server = new SseServer(spark, rcDir, rsDir,
      keepAliveMillis = 1000L, triggerMillis = 100L).start()
    try {
      // two appends; inside each the id order is the REVERSE of the
      // created_utc order, and the second lies after the first in event
      // time, so per-batch O1 order is also the model's global order
      val appended = Seq(
        (2L to 7L).map(i => rcRow(i, 5000L - i, if (i % 3 == 0) "funny" else "news")),
        (8L to 13L).map(i => rcRow(i, 9000L - i, if (i % 3 == 0) "funny" else "news")))
      val writer = new Thread(() => {
        awaitReady(server, 2)
        appended.foreach { seg => RedditLog.writeSegment(rcDir, seg); Thread.sleep(300) }
      })
      writer.start()
      val queries = Seq(
        Map("type" -> Seq("comments"), "subreddit" -> Seq("news")),
        Map("type" -> Seq("comments"), "filter" -> Seq("author,body")))
      val rows = appended.flatten
      val expectedData = Seq(
        rows.count(_("subreddit") == "news"), rows.size)
      val got = new Array[Seq[String]](queries.size)
      val threads = queries.zipWithIndex.map { case (q, k) =>
        val path = "/?" + q.map { case (key, v) => s"$key=${v.head}" }.mkString("&")
        val th = new Thread(() => {
          got(k) = readUntil(server.boundPort, path)(dataThenKeepalive(expectedData(k)))
        })
        th.start()
        th
      }
      threads.foreach(_.join(90000))
      writer.join()
      val model = spark.read.format("graft.sources.RedditLogSource")
        .option("path", rcDir).load().filter(col("id") > 1L)
      queries.zipWithIndex.foreach { case (q, k) =>
        val spec = ParamSpec.parse(q).toOption.get
        val frames = got(k)
        assert(frames != null && dataThenKeepalive(expectedData(k))(frames),
          s"$q: ${Option(frames).map(_.mkString("|"))}")
        val expected = RedditOps.apply(spec, model)
          .select(RedditOps.sseFrame(col("id"), col("event"), col("json")))
          .collect().map(_.getString(0)).toSeq
        assert(frames.filter(isData) == expected, s"$q")
        val tcs = model
          .filter(RedditOps.whitelistPred(spec) && RedditOps.attrPred(spec) &&
            col("event") === "rc")
          .count()
        val keepalive = frames.drop(frames.lastIndexWhere(isData) + 1)
          .find(_.contains("event: keepalive")).get
        assert(keepalive.contains(s""""tcs": $tcs,""") && keepalive.contains(""""tss": 0,"""),
          s"$q: $keepalive (model tcs $tcs)")
      }
    } finally server.stop()
  }
}
