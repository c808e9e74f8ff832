package layerbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload hands back: operations attempted and failed, the
  * end-to-end metrics, the per-layer metrics (traced runs), and notes for
  * the detail line.
  */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
    layer: Map[String, Double], notes: Map[String, String])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Trace,
    probe: Option[SparkProbe], plans: Option[PlanProbe], work: File, cores: Int)

/** Entry point; `layerbench/run.py` builds the classpath and calls it. */
object Main {
  val Cores = 4

  /** End-to-end metrics every workload reports (name, unit); their meaning
    * per workload is in layerbench/NOTES.md.
    */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s")

  /** The user-facing latencies. Every run reports them in its detail line,
    * but they are not bounded end-to-end metrics: on a shared 4-core box
    * they follow the host's load more than anything in the program
    * (layerbench/NOTES.md, "Steadiness").
    */
  val Latencies: Seq[String] =
    Seq("live.latency_p50_ms", "live.latency_p99_ms", "batch.query_p50_s", "batch.total_s")

  /** Per-layer metrics (name, unit). A layer a workload does not exercise
    * reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "live.latency_p50_ms" -> "ms", "live.latency_p99_ms" -> "ms",
    "live.gen_late_p99_ms" -> "ms", "live.frames_expected" -> "count", "live.sink_jobs" -> "count",
    "catchup.ttff_p50_ms" -> "ms", "catchup.ttff_p90_ms" -> "ms", "catchup.done_p50_ms" -> "ms",
    "catchup.resumes" -> "count", "catchup.model_ms_per_resume" -> "ms",
    "batch.total_s" -> "s", "batch.query_p50_s" -> "s", "batch.queries" -> "count",
    "batch.passes" -> "count",
    "RedditLogSink.batch_ms.p50" -> "ms", "RedditLogSink.batch_ms.p99" -> "ms",
    "RedditLogSink.rows_per_batch.p50" -> "count", "RedditLogSink.lag_ms.p99" -> "ms",
    "RedditLog.metadata_reads_per_s" -> "1/s", "RedditLog.segments_end" -> "count",
    "RedditLogSource.latest_offset_ms.p50" -> "ms", "RedditLogSource.lag_rows.p99" -> "count",
    "RedditLogSource.records_read_per_frame" -> "ratio",
    "RedditLogSource.catchup_records_read_per_frame" -> "ratio",
    "SseServer.feed.queries" -> "count", "SseServer.feed.batch_ms.p50" -> "ms",
    "SseServer.feed.batch_ms.p99" -> "ms", "SseServer.feed.add_batch_ms.p50" -> "ms",
    "SseServer.feed.planning_ms.p50" -> "ms", "SseServer.feed.jobs_per_batch" -> "count",
    "SseServer.feed.rows_per_batch.p50" -> "count",
    "SseServer.writer.batch_to_frame_ms.p50" -> "ms", "SseServer.writer.batch_to_frame_ms.p99" -> "ms",
    "SseServer.writer.frames" -> "count", "SseServer.writer.bytes" -> "bytes",
    "SseServer.catchUp.jobs_per_resume" -> "count", "SseServer.catchUp.task_s_per_resume" -> "s",
    "queries.build_s" -> "s", "queries.build_jobs_per_query.mean" -> "count") ++
    BatchSlice.Heavy.flatMap(h => Seq(s"queries.$h.build_s" -> "s", s"queries.$h.jobs" -> "count")) ++
    Seq("queries.exec_s" -> "s", "queries.plan_ms" -> "ms", "queries.task_util" -> "ratio",
      "queries.pinned_bytes.max" -> "bytes",
      "spark.jobs_per_s" -> "1/s", "spark.tasks_per_s" -> "1/s", "spark.cpu_util" -> "ratio",
      "spark.scheduler_delay_ms.p50" -> "ms", "spark.gc_ms_per_s" -> "ms/s",
      "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes", "spark.session_start_s" -> "s",
      "canary.before_ms" -> "ms", "canary.after_ms" -> "ms", "trace.spans" -> "count")

  /** Scheduler and engine totals over a set of jobs and a window. */
  def sparkLayer(jobs: Seq[JobRec], seconds: Double, cores: Int): Map[String, Double] = {
    val delays = jobs.flatMap(j => j.schedDelayMs.asScala.map(_.doubleValue))
    Map(
      "spark.jobs_per_s" -> jobs.size / seconds,
      "spark.tasks_per_s" -> jobs.map(_.tasks).sum / seconds,
      "spark.cpu_util" -> jobs.map(_.cpuNs).sum / 1e9 / (seconds * cores),
      "spark.scheduler_delay_ms.p50" -> (if (delays.isEmpty) 0.0 else Stats.median(delays)),
      "spark.gc_ms_per_s" -> jobs.map(_.gcMs).sum / seconds,
      "spark.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble)
  }

  /** A fixed pure-JVM CPU kernel (integer mixing and a small sort), timed
    * as the median of five rounds. It shows a box running slow.
    */
  def canaryMs(): Double = {
    val rounds = (1 to 5).map { r =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L + r
      var acc = 0L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      val a = Array.tabulate(200000)(k => ((k * 2654435761L + acc) % 1000003L).toDouble)
      java.util.Arrays.sort(a)
      if (a(0) < -1) println(acc) // keeps the work observable
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(rounds)
  }

  private val t0Ns = System.nanoTime()

  /** Progress note on stderr, with seconds since JVM start of the run. */
  def note(msg: String): Unit =
    System.err.println(f"[layerbench ${(System.nanoTime() - t0Ns) / 1e9}%7.2f s] $msg")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new graft.GraftExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val work = new File(".").getAbsoluteFile
    if (args.contains("--selftest")) {
      SelfTest.run(session(2))
      return
    }
    arg(args, "--record").foreach { out =>
      BatchSlice.record(session(Cores), work, out)
      return
    }
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(12)
    val traced = arg(args, "--trace").contains("1")
    val expectedPath = arg(args, "--expected").getOrElse("layerbench/expected/batch_slice.json")

    val canaryBefore = canaryMs()
    val s0 = System.nanoTime()
    val spark = session(Cores)
    // one tiny job, so the session's own bring-up is not charged to the
    // first workload step
    spark.range(0, 1000, 1, Cores).selectExpr("sum(id)").collect()
    val sessionS = (System.nanoTime() - s0) / 1e9
    val trace = new Trace(traced)
    val probe = if (traced) Some(new SparkProbe) else None
    val plans = if (traced) Some(new PlanProbe) else None
    probe.foreach(spark.sparkContext.addSparkListener)
    plans.foreach(spark.listenerManager.register)
    val ctx = Ctx(spark, seed, seconds, trace, probe, plans, work, Cores)
    note("session up")
    val out = workload match {
      case "sse-live" => Live.run(ctx)
      case "batch-slice" => BatchSlice.run(ctx, expectedPath)
      case other => sys.error(s"unknown workload $other")
    }
    Thread.sleep(500) // lets the listener bus deliver the last events
    spark.stop()
    note("session stopped")
    val canaryAfter = canaryMs()

    val layer = mutable.LinkedHashMap[String, Double]()
    PerLayer.foreach { case (n, _) => layer(n) = out.layer.getOrElse(n, 0.0) }
    layer("spark.session_start_s") = sessionS
    layer("canary.before_ms") = canaryBefore
    layer("canary.after_ms") = canaryAfter
    layer("trace.spans") = trace.size.toDouble
    val finite = EndToEnd.forall { case (n, _) => out.e2e.get(n).exists(v => !v.isNaN && !v.isInfinite) }
    val correct = out.failed == 0 && out.attempted > 0 && finite

    val m = new ObjectMapper()
    def metrics(names: Seq[(String, String)], values: String => Double) = {
      val o = m.createObjectNode()
      names.foreach { case (n, u) =>
        val v = values(n)
        val e = o.putObject(n)
        e.put("value", if (v.isNaN || v.isInfinite) 0.0 else v)
        e.put("unit", u)
      }
      o
    }
    val detail = m.createObjectNode()
    detail.put("workload", workload); detail.put("seed", seed); detail.put("seconds", seconds)
    detail.put("attempted", out.attempted); detail.put("failed", out.failed)
    detail.set[com.fasterxml.jackson.databind.JsonNode]("end_to_end",
      metrics(EndToEnd, n => out.e2e.getOrElse(n, Double.NaN)))
    detail.set[com.fasterxml.jackson.databind.JsonNode]("layer", metrics(PerLayer, layer))
    out.notes.foreach { case (k, v) => detail.put(k, v) }
    println("LAYERBENCH_DETAIL " + m.writeValueAsString(detail))
    if (traced) arg(args, "--trace-out").foreach { p =>
      trace.write(p, Map("workload" -> workload, "seed" -> seed.toString,
        "seconds" -> seconds.toString) ++
        EndToEnd.map { case (n, _) => s"e2e.$n" -> out.e2e.getOrElse(n, Double.NaN).toString } ++
        Latencies.filter(out.layer.contains).map(n => s"e2e.$n" -> out.layer(n).toString))
    }

    val result = m.createObjectNode()
    result.put("correct", correct)
    result.put("attempted", out.attempted)
    result.put("failed", out.failed)
    result.set[com.fasterxml.jackson.databind.JsonNode]("metrics",
      if (traced) metrics(PerLayer, layer) else metrics(EndToEnd, n => out.e2e.getOrElse(n, Double.NaN)))
    println("LAYERBENCH_RESULT " + m.writeValueAsString(result))
    System.out.flush()
    // the server's idle handler threads would otherwise hold the JVM up
    // for their keep-alive time
    System.exit(0)
  }
}
