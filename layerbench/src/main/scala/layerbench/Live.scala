package layerbench

import graft.sources.RedditLog
import graft.streaming.{RedditLogSink, SseServer}
import java.io.File
import java.time.Instant
import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `sse-live`: an open-loop generator feeds the ingest sink while four
  * clients hold live connections to the server.
  *
  * Path: MemoryStream → RedditLogSink (compaction on) → RedditLog →
  * RedditLogSource micro-batches → SseServer shared per-mask feed →
  * per-connection writer → client. The four connections make three type
  * masks (comments, submissions, both); the two comment connections fan
  * out inside one mask. No live connection resumes, so catch-up never runs
  * in the window; traced runs probe it afterwards ([[Catchup.probe]]).
  */
object Live {
  val TickMs = 50
  val RcPerTick = 25 // 500 comments/s
  val RsPerTick = 5 // 100 submissions/s: the reference's 5:1 mix
  /** Untimed traffic before the window. The JVM runs C1 only (run.py), so
    * the per-batch code paths are compiled within ~5 s of traffic; this
    * keeps that start-up out of the window.
    */
  val WarmupSeconds = 10
  /** Traffic continues after the measured window until its frames are in
    * (at most this long), so the last measured events see the same load
    * as the first.
    */
  val CooldownMaxSeconds = 12
  val HistoryRc = 20000
  val HistoryRs = 4000
  val BaseUtc = 1700000000L
  val SetupReps = 5

  val Specs: IndexedSeq[ClientSpec] = IndexedSeq(
    ClientSpec("type" -> "comments", "author" -> "user12,user19,user23,user31,user40"),
    ClientSpec("type" -> "comments", "author" -> "user14,user21,user27,user35,user44",
      "filter" -> "author,body,created_utc"),
    ClientSpec("type" -> "submissions", "over_18" -> "true"),
    ClientSpec("subreddit" -> "sub2,sub5,sub9"))
  /** The feed mask each connection lands in (the server keys masks by the
    * set of logs a connection reads).
    */
  private val MaskOf = IndexedSeq("rc", "rc", "rs", "rcrs")

  private final class Rig(val dir: File, val server: SseServer,
      val memRc: MemoryStream[Env], val memRs: MemoryStream[Env],
      val sinkRc: StreamingQuery, val sinkRs: StreamingQuery,
      val clients: LiveClients) {
    def rcDir: String = new File(dir, "rc").getPath
    def rsDir: String = new File(dir, "rs").getPath
    def stop(): Unit = {
      clients.close()
      Seq(sinkRc, sinkRs).foreach(q => try q.stop() catch { case _: Exception => () })
      server.stop()
    }
  }

  private def setUp(ctx: Ctx, rep: Int, histRc: Seq[Seq[Map[String, Any]]],
      histRs: Seq[Seq[Map[String, Any]]]): Rig = {
    val spark = ctx.spark
    implicit val sqlCtx: SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = new File(ctx.work, s"live-$rep")
    val rcDir = new File(dir, "rc").getPath
    val rsDir = new File(dir, "rs").getPath
    histRc.foreach(RedditLog.writeSegment(rcDir, _))
    histRs.foreach(RedditLog.writeSegment(rsDir, _))
    val server = new SseServer(spark, rcDir, rsDir, triggerMillis = 200L).start()
    val memRc = MemoryStream[Env]
    val memRs = MemoryStream[Env]
    def sink(m: MemoryStream[Env], logDir: String, name: String) =
      RedditLogSink.appendStream(m.toDF(), logDir, new File(dir, s"ck-$name").getPath,
        triggerMillis = 200L, targetRows = 5000L, maxSmall = 8)
    val sinkRc = sink(memRc, rcDir, "rc")
    val sinkRs = sink(memRs, rsDir, "rs")
    val clients = new LiveClients(server.boundPort, Specs.map(_.query))
    clients.start()
    val deadline = System.nanoTime() + 60e9.toLong
    while (server.readyConnections < Specs.size && System.nanoTime() < deadline) Thread.sleep(10)
    require(server.readyConnections == Specs.size,
      s"only ${server.readyConnections} of ${Specs.size} live clients attached")
    new Rig(dir, server, memRc, memRs, sinkRc, sinkRs, clients)
  }

  /** A progress report of a batch that ran (idle triggers report no
    * addBatch phase).
    */
  private final case class Batch(startMs: Double, endMs: Double, rows: Long,
      d: Map[String, Long], ends: Map[String, Long], starts: Map[String, Long])

  private def batches(q: StreamingQuery, sourceKey: String => String): Seq[Batch] =
    q.recentProgress.toSeq.filter(p => p.durationMs.containsKey("addBatch")).map { p =>
      val start = Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      def offsets(f: org.apache.spark.sql.streaming.SourceProgress => String) =
        p.sources.toSeq.flatMap { s =>
          Option(f(s)).map(o => sourceKey(s.description) -> offsetValue(o))
        }.toMap
      Batch(start, start + d("triggerExecution"), p.numInputRows, d,
        offsets(_.endOffset), offsets(_.startOffset))
    }

  /** MemoryStream offsets print as a bare number, log offsets as
    * {"maxId":n}.
    */
  private def offsetValue(json: String): Long = {
    val digits = json.filter(c => c.isDigit || c == '-')
    if (digits.isEmpty) -1L else digits.toLong
  }

  def run(ctx: Ctx): Outcome = {
    val seconds = ctx.seconds
    val histRcEnvs = Gen.history(ctx.seed, "rc", 1L, HistoryRc, BaseUtc, RcPerTick * 1000 / TickMs)
    val histRsEnvs = Gen.history(ctx.seed, "rs", 1L, HistoryRs, BaseUtc, RsPerTick * 1000 / TickMs)
    val histRc = histRcEnvs.grouped(2000).map(_.toSeq.map(Gen.row)).toSeq
    val histRs = histRsEnvs.grouped(800).map(_.toSeq.map(Gen.row)).toSeq

    // Live envelopes, tick by tick, made before any timing starts.
    val warmTicks = WarmupSeconds * 1000 / TickMs
    val windowTicks = warmTicks + seconds * 1000 / TickMs
    val ticks = windowTicks + CooldownMaxSeconds * 1000 / TickMs
    val liveUtc = BaseUtc + HistoryRc / (RcPerTick * 1000 / TickMs)
    val rng = new java.util.SplittableRandom(ctx.seed * 7919L + 17L)
    def tickEnvelopes(event: String, perTick: Int, firstId: Long): Array[Array[Env]] =
      Array.tabulate(ticks) { k =>
        Array.tabulate(perTick)(j =>
          Gen.envelope(rng, firstId + k * perTick + j, event, liveUtc + k * TickMs / 1000))
      }
    val rcTicks = tickEnvelopes("rc", RcPerTick, HistoryRc + 1L)
    val rsTicks = tickEnvelopes("rs", RsPerTick, HistoryRs + 1L)
    // expected frames: (connection, event, id) → (tick, data)
    val expected = Specs.indices.map(_ => mutable.HashMap[(String, Long), (Int, String)]())
    for (k <- 0 until ticks; e <- rcTicks(k).iterator ++ rsTicks(k).iterator; i <- Specs.indices)
      if (Specs(i).matches(e)) expected(i).put((e.event, e.id), (k, Specs(i).data(e)))

    // Set-up, several times. The first rig is the one measured; the others
    // are set up and torn down after the window, so the measured one shares
    // its JVM with no stopped rig.
    val setupTimes = ArrayBuffer[Double]()
    def timedSetUp(rep: Int): Rig = {
      val t0 = System.nanoTime()
      val rig = setUp(ctx, rep, histRc, histRs)
      setupTimes += (System.nanoTime() - t0) / 1e9
      Main.note(s"live set-up $rep done")
      rig
    }
    def tearDown(rig: Rig): Unit = { rig.stop(); Main.deleteTree(rig.dir) }
    val rig = timedSetUp(1)
    val out =
      try measure(ctx, rig, histRcEnvs, histRsEnvs, rcTicks, rsTicks, expected, warmTicks, windowTicks)
      finally { tearDown(rig); Main.note("live torn down") }
    for (rep <- 2 to SetupReps) tearDown(timedSetUp(rep))
    out.copy(e2e = out.e2e + ("setup_s" -> Stats.median(setupTimes.toSeq)),
      notes = out.notes + ("setup_reps_s" -> setupTimes.map(x => f"$x%.3f").mkString(",")))
  }

  private def measure(ctx: Ctx, rig: Rig, histRc: Array[Env], histRs: Array[Env],
      rcTicks: Array[Array[Env]], rsTicks: Array[Array[Env]],
      expected: IndexedSeq[mutable.HashMap[(String, Long), (Int, String)]],
      warmTicks: Int, windowTicks: Int): Outcome = {
    val allTicks = rcTicks.length
    val tickNs = TickMs * 1000000L
    val dueNs = new Array[Long](allTicks)
    val addedNs = new Array[Long](allTicks)
    val lateMs = new Array[Double](allTicks)
    val rcOffset = new Array[Long](allTicks)
    val rsOffset = new Array[Long](allTicks)
    val startNs = System.nanoTime() + 100000000L
    for (k <- 0 until allTicks) dueNs(k) = startNs + k * tickNs
    val windowStartNs = dueNs(warmTicks)
    val windowEndNs = startNs + windowTicks * tickNs
    val windowFramesDue = expected.map(_.values.count(_._1 < windowTicks))
    var metaBefore = 0L
    var metaAfter = 0L

    // Open loop: each tick is sent when due, however late the system runs.
    // After the window, traffic goes on until the window's frames are in.
    var ticks = 0
    var stopAt = allTicks
    while (ticks < stopAt) {
      val k = ticks
      val wait = dueNs(k) - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      if (k == warmTicks)
        metaBefore = RedditLog.metadataReads(rig.rcDir) + RedditLog.metadataReads(rig.rsDir)
      if (k == windowTicks)
        metaAfter = RedditLog.metadataReads(rig.rcDir) + RedditLog.metadataReads(rig.rsDir)
      lateMs(k) = (System.nanoTime() - dueNs(k)) / 1e6
      rcOffset(k) = offsetValue(rig.memRc.addData(rcTicks(k).toSeq).json)
      rsOffset(k) = offsetValue(rig.memRs.addData(rsTicks(k).toSeq).json)
      addedNs(k) = System.nanoTime()
      ticks += 1
      if (k >= windowTicks && stopAt == allTicks &&
          Specs.indices.forall(i => rig.clients.received(i) >= windowFramesDue(i)))
        stopAt = math.min(allTicks, ticks + 500 / TickMs)
    }
    Main.note(s"generator done after ${ticks - windowTicks} cool-down ticks")
    // frames are expected from the ticks actually sent
    expected.foreach(m => m.filterInPlace { case (_, (k, _)) => k < ticks })
    val waitEnd = System.nanoTime()

    // Drain: wait for every expected frame, bounded.
    val drainDeadline = waitEnd + 30e9.toLong
    def allIn = Specs.indices.forall(i => rig.clients.received(i) >= expected(i).size)
    while (!allIn && System.nanoTime() < drainDeadline) Thread.sleep(20)
    Thread.sleep(300) // late duplicates, if any, still get counted
    Main.note("drained")
    val segmentsEnd = RedditLog.listSegments(rig.rcDir).size + RedditLog.listSegments(rig.rsDir).size
    val sinkRcBatches = batches(rig.sinkRc, _ => "mem")
    val sinkRsBatches = batches(rig.sinkRs, _ => "mem")
    val feeds: Map[String, (StreamingQuery, Seq[Batch])] = rig.server.activeQueries.map { q =>
      val mask = Option(q.name).map(_.stripPrefix("graft-sse-feed-").takeWhile(_ != '.')).getOrElse("")
      mask -> (q, batches(q, d => if (d.contains(rig.rcDir)) "rc" else "rs"))
    }.toMap
    rig.clients.close()

    // ---- correctness and latency ----
    var attempted = 0L
    var failed = 0L
    val latencies = ArrayBuffer[Double]()
    var windowFrames = 0L
    var lastWindowArrivalNs = windowStartNs
    val lastFrameOf = mutable.HashMap[(Int, Int), Frame]() // (tick, connection) → last frame
    for (i <- Specs.indices) {
      val exp = expected(i)
      attempted += exp.size
      val seen = mutable.HashSet[(String, Long)]()
      val lastId = mutable.HashMap[String, Long]()
      val frames = rig.clients.frames(i).synchronized(rig.clients.frames(i).toList)
      for (f <- frames) {
        val key = (f.event, f.id)
        exp.get(key) match {
          case None => failed += 1 // a frame this connection must not get
          case Some((k, data)) =>
            val inOrder = lastId.get(f.event).forall(_ < f.id)
            lastId(f.event) = f.id
            if (!seen.add(key) || !inOrder || data != f.data) failed += 1
            else {
              if (k >= warmTicks && k < windowTicks) {
                latencies += (f.arrivalNs - dueNs(k)) / 1e6
                windowFrames += 1
                lastWindowArrivalNs = math.max(lastWindowArrivalNs, f.arrivalNs)
              }
              lastFrameOf((k, i)) = f
            }
        }
      }
      failed += exp.size - seen.size // missing frames
    }
    val lat = latencies.toArray
    // over the time until the window's last frame is in, so a backlog and
    // its drain show
    val e2e = Map("ops_per_s" -> windowFrames / ((lastWindowArrivalNs - windowStartNs) / 1e9))

    val layer = mutable.LinkedHashMap[String, Double]()
    layer("live.latency_p50_ms") = Stats.percentile(lat, 0.5)
    layer("live.latency_p99_ms") = Stats.percentile(lat, 0.99)
    layer("live.gen_late_p99_ms") = Stats.percentile(lateMs.slice(warmTicks, windowTicks), 0.99)
    layer("live.frames_expected") = attempted.toDouble

    if (ctx.trace.enabled) {
      val winFrom = Clock.wallMs(windowStartNs)
      val winTo = Clock.wallMs(windowEndNs)
      def inWin(b: Batch) = b.endMs >= winFrom && b.endMs <= winTo
      // sink layer
      val sinkAll = sinkRcBatches ++ sinkRsBatches
      val sinkWin = sinkAll.filter(inWin)
      layer("RedditLogSink.batch_ms.p50") = pct(sinkWin.map(_.d("triggerExecution").toDouble), 0.5)
      layer("RedditLogSink.batch_ms.p99") = pct(sinkWin.map(_.d("triggerExecution").toDouble), 0.99)
      layer("RedditLogSink.rows_per_batch.p50") = pct(sinkWin.map(_.rows.toDouble), 0.5)
      def carrying(bs: Seq[Batch], off: Long): Option[Batch] =
        bs.find(b => b.starts.getOrElse("mem", -1L) < off && off <= b.ends.getOrElse("mem", -1L))
      val sinkLag = ArrayBuffer[Double]()
      for (k <- warmTicks until windowTicks) {
        carrying(sinkRcBatches, rcOffset(k)).foreach(b => sinkLag += b.endMs - Clock.wallMs(dueNs(k)))
        carrying(sinkRsBatches, rsOffset(k)).foreach(b => sinkLag += b.endMs - Clock.wallMs(dueNs(k)))
      }
      layer("RedditLogSink.lag_ms.p99") = pct(sinkLag.toSeq, 0.99)
      // log layer
      layer("RedditLog.metadata_reads_per_s") = (metaAfter - metaBefore) / ctx.seconds.toDouble
      layer("RedditLog.segments_end") = segmentsEnd.toDouble
      // source + feed layers
      val feedWin = feeds.values.flatMap(_._2).filter(inWin).toSeq
      layer("SseServer.feed.queries") = feeds.size.toDouble
      layer("SseServer.feed.batch_ms.p50") = pct(feedWin.map(_.d("triggerExecution").toDouble), 0.5)
      layer("SseServer.feed.batch_ms.p99") = pct(feedWin.map(_.d("triggerExecution").toDouble), 0.99)
      layer("SseServer.feed.add_batch_ms.p50") = pct(feedWin.map(_.d("addBatch").toDouble), 0.5)
      layer("SseServer.feed.planning_ms.p50") =
        pct(feedWin.map(_.d.getOrElse("queryPlanning", 0L).toDouble), 0.5)
      layer("SseServer.feed.rows_per_batch.p50") = pct(feedWin.map(_.rows.toDouble), 0.5)
      layer("RedditLogSource.latest_offset_ms.p50") =
        pct(feedWin.map(_.d.getOrElse("latestOffset", 0L).toDouble), 0.5)
      // log high-water mark at time t, from the sink batches finished by t
      def logMax(side: String, t: Double): Long = {
        val (bs, hist, offs, envs) =
          if (side == "rc") (sinkRcBatches, HistoryRc, rcOffset, rcTicks)
          else (sinkRsBatches, HistoryRs, rsOffset, rsTicks)
        val done = bs.filter(_.endMs <= t).map(_.ends.getOrElse("mem", -1L))
        val off = if (done.isEmpty) -1L else done.max
        val k = offs.take(ticks).lastIndexWhere(_ <= off)
        if (k < 0) hist.toLong else envs(k).last.id
      }
      val lagRows = feedWin.flatMap(b => b.ends.map { case (side, end) => (logMax(side, b.endMs) - end).toDouble })
      layer("RedditLogSource.lag_rows.p99") = pct(lagRows, 0.99)
      val feedIds = feeds.values.map(_._1.id.toString).toSet
      val sinkIds = Set(rig.sinkRc.id.toString, rig.sinkRs.id.toString)
      val probe = ctx.probe.get
      val jobs = probe.all
      val feedJobsWin = jobs.filter(j => feedIds(j.queryId) && j.startMs >= winFrom && j.startMs <= winTo)
      layer("SseServer.feed.jobs_per_batch") =
        if (feedWin.isEmpty) 0.0 else feedJobsWin.size.toDouble / feedWin.size
      val allFrames = Specs.indices.map(i => rig.clients.frames(i).size).sum
      val feedRead = jobs.filter(j => feedIds(j.queryId)).map(_.recordsRead).sum
      layer("RedditLogSource.records_read_per_frame") =
        if (allFrames == 0) 0.0 else feedRead.toDouble / allFrames
      // writer layer: frame arrival after the feed batch that carried it
      val b2f = ArrayBuffer[Double]()
      for (i <- Specs.indices; f <- rig.clients.frames(i)) {
        expected(i).get((f.event, f.id)).filter(k => k._1 >= warmTicks && k._1 < windowTicks).foreach { _ =>
          feeds.get(MaskOf(i)).flatMap(_._2.find(b =>
            b.starts.getOrElse(f.event, Long.MaxValue) < f.id && f.id <= b.ends.getOrElse(f.event, -1L)))
            .foreach(b => b2f += Clock.wallMs(f.arrivalNs) - b.endMs)
        }
      }
      layer("SseServer.writer.batch_to_frame_ms.p50") = pct(b2f.toSeq, 0.5)
      layer("SseServer.writer.batch_to_frame_ms.p99") = pct(b2f.toSeq, 0.99)
      layer("SseServer.writer.frames") = allFrames.toDouble
      layer("SseServer.writer.bytes") = rig.clients.bytes.toDouble
      layer ++= Main.sparkLayer(jobs.filter(j => j.startMs >= winFrom && j.startMs <= winTo),
        ctx.seconds, ctx.cores)
      layer("live.sink_jobs") = jobs.count(j => sinkIds(j.queryId)).toDouble

      // spans: one chain per (tick, mask), keyed by the tick's id range
      val tr = ctx.trace
      for (k <- warmTicks until windowTicks; (mask, (_, bs)) <- feeds) {
        val arrivals = Specs.indices.filter(i => MaskOf(i) == mask)
          .flatMap(i => lastFrameOf.get((k, i))).map(f => Clock.wallMs(f.arrivalNs))
        if (arrivals.nonEmpty) {
          val rc = rcTicks(k); val rs = rsTicks(k)
          val tid = s"rc:${rc.head.id}-${rc.last.id}/rs:${rs.head.id}-${rs.last.id}"
          // the chain follows the tick's comments, or its submissions on the
          // submissions-only mask
          val (side, lastId, sink) =
            if (mask == "rs") ("rs", rs.last.id, carrying(sinkRsBatches, rsOffset(k)))
            else ("rc", rc.last.id, carrying(sinkRcBatches, rcOffset(k)))
          val due = Clock.wallMs(dueNs(k))
          val added = Clock.wallMs(addedNs(k))
          val arrival = arrivals.max
          val root = tr.span(s"event[$mask]", "e2e", due, arrival, 0L, tid)
          tr.span("generator.add", "generator", due, added, root, tid)
          for (sb <- sink) {
            tr.span("RedditLogSink.wait", "RedditLogSink", added, sb.startMs, root, tid)
            tr.span("RedditLogSink.batch", "RedditLogSink", sb.startMs, sb.endMs, root, tid)
            bs.find(b => b.starts.getOrElse(side, Long.MaxValue) < lastId &&
              lastId <= b.ends.getOrElse(side, -1L)).foreach { fb =>
              tr.span(s"SseServer.feed.wait[$mask]", "SseServer.feed", sb.endMs, fb.startMs, root, tid)
              // the frames leave during addBatch: the chain ends at arrival
              val end = math.min(fb.endMs, arrival)
              val fid = tr.span(s"SseServer.feed.batch[$mask]", "SseServer.feed", fb.startMs, end, root, tid)
              var t = fb.startMs
              for (ph <- Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch")) {
                val lay = if (ph == "latestOffset" || ph == "getBatch") "RedditLogSource" else "SseServer.feed"
                val phEnd = math.min(end, t + fb.d.getOrElse(ph, 0L))
                if (phEnd > t) tr.span(s"$ph[$mask]", lay, t, phEnd, fid, tid)
                t = math.max(t, phEnd)
              }
            }
          }
          arrivals.foreach(a => tr.span(s"frame.arrival[$mask]", "SseServer.writer", a, a, root, tid))
        }
      }
      val (resumes, resumesFailed, probeLayer) = Catchup.probe(ctx, rig.server.boundPort,
        histRc ++ rcTicks.take(ticks).flatten, histRs ++ rsTicks.take(ticks).flatten)
      attempted += resumes
      failed += resumesFailed
      layer ++= probeLayer
    }
    Outcome(attempted, failed, e2e, layer.toMap,
      Map("frames_in_window" -> windowFrames.toString,
        "cooldown_ticks" -> (ticks - windowTicks).toString))
  }

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else Stats.percentile(xs.toArray, p)
}
