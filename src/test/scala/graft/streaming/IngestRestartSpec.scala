package graft.streaming

import graft.SparkTestSession
import graft.sources.RedditLog
import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Crash-restart of the ingest daemon on a replayable source: stopped
  * with input pending and its last commit lost, then restarted on the
  * same checkpoint with more input, [[RedditLogSink]] leaves the log an
  * uninterrupted run writes, every id once (the watermark-floor replay
  * argument of its scaladoc), and a checkpoint with no temp file in it.
  */
class IngestRestartSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Input file `k`: ids 10k+1..10k+10, one JSON envelope a line, moved in
    * whole and stamped k seconds apart so the file source admits the
    * files in id order. */
  private def addInput(in: File, k: Int): Unit = {
    val lines = (10L * k + 1 to 10L * k + 10).map(i =>
      s"""{"id":$i,"event":"rc","created_utc":${1000 + i},"author":"u$i",""" +
        s""""subreddit":"news","json":"{\\"n\\":$i}"}""")
    val tmp = Files.createTempFile(in.toPath, ".in-", ".tmp")
    Files.write(tmp, lines.asJava, StandardCharsets.UTF_8)
    val f = new File(in, f"part-$k%02d.json")
    Files.move(tmp, f.toPath, StandardCopyOption.ATOMIC_MOVE)
    assert(f.setLastModified(1000000000000L + k * 1000L))
  }

  private def ingest(in: File, log: String, ckpt: File, triggerMillis: Long): StreamingQuery =
    RedditLogSink.appendStream(
      spark.readStream.schema(RedditLog.schema).option("maxFilesPerTrigger", 1L).json(in.getPath),
      log, ckpt.getPath, triggerMillis = triggerMillis, targetRows = 1000L, maxSmall = 16)

  /** The log's bytes: every live segment's lines, in segment order. */
  private def logLines(dir: String): Seq[String] =
    RedditLog.listSegments(dir).flatMap(s => Files.readAllLines(s.file.toPath).asScala)

  test("stop with input pending, lose the last commit, restart: the log equals an uninterrupted run's") {
    val in = Files.createTempDirectory("restart-in").toFile
    (0 until 4).foreach(addInput(in, _))
    val log = Files.createTempDirectory("restart-log").toString
    val ckpt = Files.createTempDirectory("restart-ck").toFile
    // one batch per trigger and a trigger far above the test's length:
    // batch 0 runs at start, then the query waits with three files pending
    val first = ingest(in, log, ckpt, 600000L)
    try {
      val deadline = System.nanoTime() + 60e9.toLong
      while (!new File(ckpt, "commits/0").exists && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(new File(ckpt, "commits/0").exists, "batch 0 never committed")
    } finally first.stop()
    assert(RedditLog.maxId(log) == 10L)
    // a crash between the append and the commit: batch 0 replays
    Files.delete(new File(ckpt, "commits/0").toPath)
    (4 until 6).foreach(addInput(in, _))
    val second = ingest(in, log, ckpt, 50L)
    try second.processAllAvailable() finally second.stop()

    val ids = logLines(log).map(l => """"id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
    assert(ids == (1L to 60L), "every id exactly once, in order")
    val cleanLog = Files.createTempDirectory("restart-clean").toString
    val clean = ingest(in, cleanLog, Files.createTempDirectory("restart-cck").toFile, 50L)
    try clean.processAllAvailable() finally clean.stop()
    assert(logLines(log) == logLines(cleanLog))
    Seq("offsets", "commits").foreach { d =>
      val left = new File(ckpt, d).list().toSeq.filterNot(_.forall(_.isDigit))
      assert(left.isEmpty, s"$d/ holds $left")
    }
  }
}
