package layerbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The catch-up probe of traced `sse-live` runs. After the live window,
  * with nothing appended any more, two closed-loop clients resume against
  * the same server and logs: each asks for history (backfill or start id;
  * comments, submissions or both; with whitelist and projection variants),
  * reads exactly the catch-up frames the model predicts, and disconnects.
  * That is the batch scan, its id-range pruning, the ordering pass and the
  * HTTP writer, with no live batch running.
  */
object Catchup {
  val Clients = 2

  /** Resume depths stand for a log-uniform draw from [1 k, 100 k]: a
    * client's cycle visits each of `Rungs` equal-probability strata once,
    * in a seeded order, at the stratum's log-midpoint. Every cycle thus
    * asks for the same mix of shallow and deep history, and a run's
    * percentiles do not hinge on a few draws.
    */
  val Rungs = 6

  /** What each stratum asks for: type mask and filter variant. Shifted by
    * client, so the two clients are not in lockstep.
    */
  private val Pattern = IndexedSeq(
    ("both", "plain"), ("rc", "author"), ("rs", "project"),
    ("rc", "plain"), ("both", "subreddit"), ("rc", "project"))

  /** A resume: its query and the frames it must receive, in order. */
  final case class Resume(spec: ClientSpec, frames: Array[Env])

  /** Slot `slot` of cycle `cycle` of client `client`. Deterministic in its
    * arguments.
    */
  def resume(seed: Long, client: Int, cycle: Int, slot: Int, rc: Array[Env], rs: Array[Env]): Resume = {
    val order = {
      val r = new SplittableRandom(seed * 1000033L + client * 7919L + cycle)
      val a = Array.range(0, Rungs)
      for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val rung = order(slot)
    val rng = new SplittableRandom(seed * 1000037L + client * 104729L + cycle * 131L + slot)
    def depth(): Long = math.round(math.pow(10, 3 + 2 * (rung + 0.5) / Rungs))
    val (mask, variant) = Pattern((rung + client) % Rungs)
    val sides = if (mask == "both") Seq("rc", "rs") else Seq(mask)
    val params = ArrayBuffer[(String, String)]()
    if (mask == "rc") params += ("type" -> "comments")
    if (mask == "rs") params += ("type" -> "submissions")
    val lower = mutable.HashMap[String, Long]()
    for (s <- sides) {
      val (log, name) = if (s == "rc") (rc, "comment") else (rs, "submission")
      val maxId = log.last.id
      val d = depth()
      if (rng.nextBoolean()) {
        params += (s"${name}_backfill" -> d.toString)
        lower(s) = maxId - math.min(d, graft.api.ParamSpec.MaxBackfill) + 1
      } else {
        val start = math.max(1L, maxId - d + 1)
        params += (s"${name}_start_id" -> start.toString)
        lower(s) = start
      }
    }
    variant match {
      case "author" =>
        params += ("author" -> Seq.fill(4)(Gen.Authors(rng.nextInt(Gen.Authors.length))).mkString(","))
      case "subreddit" =>
        params += ("subreddit" -> Seq.fill(2)(Gen.Subreddits(rng.nextInt(Gen.Subreddits.length))).mkString(","))
      case "project" => params += ("filter" -> "id,author,created_utc")
      case _ => ()
    }
    def framesOf(spec: ClientSpec): Array[Env] = sides.flatMap { s =>
      val log = if (s == "rc") rc else rs
      val from = math.max(0, (lower(s) - log.head.id).toInt)
      log.iterator.drop(from).filter(spec.matches)
    }.sorted(ClientSpec.emitOrdering).toArray
    val spec = ClientSpec(params.toSeq: _*)
    val frames = framesOf(spec)
    if (frames.nonEmpty) Resume(spec, frames)
    else { // a whitelist that matches nothing in range: resume unfiltered
      val plain = ClientSpec(params.filterNot(p => p._1 == "author" || p._1 == "subreddit").toSeq: _*)
      Resume(plain, framesOf(plain))
    }
  }

  private final case class Done(index: String, startNs: Long, firstNs: Long, lastNs: Long,
      frames: Int, bytes: Long, ok: Boolean)

  /** One resume over HTTP: read exactly the expected frames, compare each,
    * disconnect.
    */
  private def serve(port: Int, r: Resume, index: String): Done = {
    val t0 = System.nanoTime()
    val c = new BlockingSse(port, r.spec.query, 60000)
    var first = 0L
    var last = 0L
    var ok = true
    var n = 0
    try {
      ok = c.open() == 200
      while (ok && n < r.frames.length) {
        val f = c.next()
        if (f == null) ok = false
        else {
          val e = r.frames(n)
          if (f.id != e.id || f.event != e.event || f.data != r.spec.data(e)) ok = false
          if (n == 0) first = f.arrivalNs
          last = f.arrivalNs
          n += 1
        }
      }
    } catch { case _: java.io.IOException => ok = false }
    finally c.close()
    Done(index, t0, first, last, n, c.bytesRead, ok)
  }

  /** One cycle per client. Returns (resumes, failed resumes, per-layer
    * metrics) and records one span chain per resume.
    */
  def probe(ctx: Ctx, port: Int, rc: Array[Env], rs: Array[Env]): (Long, Long, Map[String, Double]) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val modelNs = new AtomicLong(0)
    // The clients start each resume together, so which resumes overlap is
    // fixed by the seed rather than by timing.
    val step = new java.util.concurrent.CyclicBarrier(Clients)
    val t0 = System.nanoTime()
    val threads = (0 until Clients).map { c =>
      val t = new Thread(() => for (slot <- 0 until Rungs) {
        step.await()
        val m0 = System.nanoTime()
        val r = resume(ctx.seed, c, 0, slot, rc, rs)
        modelNs.addAndGet(System.nanoTime() - m0)
        done.add(serve(port, r, s"c$c.$slot"))
      })
      t.start(); t
    }
    threads.foreach(_.join())
    val t1 = System.nanoTime()
    Main.note("catch-up probe done")
    val all = done.toArray(new Array[Done](0)).toSeq.sortBy(_.index)
    val good = all.filter(_.ok)
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) 0.0 else Stats.percentile(xs.toArray, p)
    val ttff = good.map(d => (d.firstNs - d.startNs) / 1e6)
    val jobs = ctx.probe.map(_.within(Clock.wallMs(t0), Clock.wallMs(t1))).getOrElse(Nil)
      .filter(_.queryId == null)
    val n = math.max(1, all.size)
    val layer = Map(
      "catchup.ttff_p50_ms" -> pct(ttff, 0.5),
      "catchup.ttff_p90_ms" -> pct(ttff, 0.9),
      "catchup.done_p50_ms" -> pct(good.map(d => (d.lastNs - d.startNs) / 1e6), 0.5),
      "catchup.resumes" -> all.size.toDouble,
      "catchup.model_ms_per_resume" -> modelNs.get / 1e6 / n,
      "SseServer.catchUp.jobs_per_resume" -> jobs.size.toDouble / n,
      "SseServer.catchUp.task_s_per_resume" -> jobs.map(_.runMs).sum / 1000.0 / n,
      "RedditLogSource.catchup_records_read_per_frame" ->
        jobs.map(_.recordsRead).sum.toDouble / math.max(1L, good.map(_.frames.toLong).sum))
    val tr = ctx.trace
    for (d <- good) {
      val tid = s"resume-${d.index}"
      val s = Clock.wallMs(d.startNs); val f = Clock.wallMs(d.firstNs); val l = Clock.wallMs(d.lastNs)
      val root = tr.span("resume", "e2e", s, l, 0L, tid)
      val ff = tr.span("SseServer.catchUp.first_frame", "SseServer.catchUp", s, f, root, tid)
      tr.span("SseServer.writer.stream", "SseServer.writer", f, l, root, tid)
      // a job belongs to this resume when no other resume was waiting for
      // its first frame when the job started
      for (j <- jobs if j.startMs >= s && j.startMs <= f && j.endMs > 0) {
        val owners = good.count(o => j.startMs >= Clock.wallMs(o.startNs) && j.startMs <= Clock.wallMs(o.firstNs))
        if (owners == 1) tr.span(s"spark.job.${j.jobId}", "spark", j.startMs, j.endMs, ff, tid)
      }
    }
    (all.size.toLong, (all.size - good.size).toLong, layer)
  }
}
